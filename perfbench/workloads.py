"""The two benchmark workloads.

Each workload generates its inputs from the seed, computes the expected
outputs with an independent reference, and then runs *units* (one crawl, or
one payload pass) through the engine's public API.  Every unit is checked
against the reference; a unit that raises or mismatches counts as failed.

* ``crawl_sidecar_churn``: bloom sidecar forced on, and a retraction of ~2%
  of the seen set between bootstrap and the first wave; checked against
  ``fixtures.simulator`` run over the seeds the retraction leaves, with the
  same budget, waves and decay.
* ``payload_dedup``: image decode + pHash + keep-first prune, then
  MinHash-LSH dedup clusters; checked against brute-force references.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import docs as docgen
from perfbench import oracles
from perfbench.stats import median

clock = time.perf_counter

# crawl regime: the engine knobs of the ROADMAP probe (n_buckets=32,
# wave_budget=50_000, write_tasks=8, 250 hosts per source) on a web sized so
# one crawl fits a run
CRAWL_PAGES = 4000
CRAWL_HOSTS_PER_SOURCE = 250
CRAWL_SEEDS_PER_SOURCE = 400
CRAWL_WAVES = 1
N_BUCKETS = 32
WAVE_BUDGET = 50_000
WRITE_TASKS = 8
# the bloom sidecar, on from the first wave
SEEN_FILTER = "bloom"
BLOOM_MIN_SEEN = 0
# between bootstrap and the first wave, retract this share of the seen set
# (which is then also the queued frontier), so the wave crawls and builds
# its sidecar on the retracted store
RETRACT_FRAC = 0.02

IMG_PAGES = 1500
IMG_SEEDS_PER_SOURCE = 20
N_DOCS = 5000

#: never-seen URLs probed against the final sidecar for its FP rate
FP_PROBES = 20_000


@dataclass
class Unit:
    """One timed unit of work and what it measured."""

    index: int
    traced: bool
    wall_s: float = 0.0
    items: int = 0
    ops: list[dict] = field(default_factory=list)  # per op: s, jobs, ...
    extra: dict = field(default_factory=dict)
    error: str | None = None
    mismatch: str | None = None

    @property
    def failed(self) -> bool:
        return self.error is not None or self.mismatch is not None


def _run_unit(fn, unit: Unit) -> Unit:
    try:
        fn(unit)
    except Exception:  # a failed unit is a measurement, not a crash
        unit.error = traceback.format_exc(limit=8)
    return unit


# -- crawl --------------------------------------------------------------------


class CrawlWorkload:
    op_name = "wave"

    def __init__(self, ctx):
        self.ctx = ctx

    # set-up: inputs, reference, loaded tables
    def setup(self) -> None:
        from csxj_crawler_spark.fixtures import generator, simulator

        ctx = self.ctx
        self.fix = ctx.path("crawl_fixture")
        generator.generate(
            self.fix, n_pages=CRAWL_PAGES, seed=ctx.seed, with_images=False,
            n_seeds_per_source=CRAWL_SEEDS_PER_SOURCE,
            hosts_per_source=CRAWL_HOSTS_PER_SOURCE,
        )
        graph, seeds, robots = simulator.load_fixture_inputs(self.fix)
        self.retract_urls, seeds_left = oracles.retract_seeds(seeds, RETRACT_FRAC)
        sim = simulator.simulate(
            graph, seeds_left, robots, wave_budget=WAVE_BUDGET, max_waves=CRAWL_WAVES,
        )
        self.want_order = [
            (r["seq"], r["url"], r["host"], r["wave"], r["status"], r["fetch_ts"])
            for r in sim.crawl_order
        ]
        self.want_seen = set(sim.seen)
        self.outlinks = sum(len(p["outlinks"]) for p in graph.values())
        self.hosts = sorted(robots)
        spark = ctx.spark
        self.seeds = spark.read.parquet(f"{self.fix}/seeds.parquet")
        self.graph = spark.read.parquet(f"{self.fix}/web_graph.parquet").cache()
        self.graph.count()
        self.robots = spark.read.parquet(f"{self.fix}/robots.parquet")
        self.retract_df = spark.createDataFrame(
            [(u,) for u in self.retract_urls], "url string"
        )

    def _engine(self):
        from csxj_crawler_spark.plans.crawl import CrawlEngine
        from csxj_crawler_spark.sources.snapshot import SnapshotStore

        store = SnapshotStore(self.ctx.fresh_dir("store"), write_tasks=WRITE_TASKS)
        return CrawlEngine(
            self.ctx.spark, store, n_buckets=N_BUCKETS, wave_budget=WAVE_BUDGET,
            seen_filter=SEEN_FILTER, bloom_min_seen=BLOOM_MIN_SEEN,
        )

    def warmup(self) -> None:
        """None: the timed crawl is the JVM's first.  A warm-up crawl costs
        as much as the timed one, which the per-run time budget cannot
        carry; loading the graph in set-up already runs the first jobs."""

    def unit(self, index: int, traced: bool) -> Unit:
        return _run_unit(self._crawl, Unit(index, traced))

    def _crawl(self, u: Unit) -> None:
        ctx = self.ctx
        eng = self._engine()
        u.extra["store"] = eng.store.root
        t0 = clock()
        with ctx.group(f"u{u.index}-bootstrap"):
            tb = clock()
            eng.bootstrap(self.seeds)
            u.extra["bootstrap_s"] = clock() - tb
        u.extra["bootstrap_jobs"] = ctx.group_jobs(f"u{u.index}-bootstrap")
        g = f"u{u.index}-retract"
        with ctx.group(g):
            tr = clock()
            n = eng.retract(self.retract_df)
            u.extra["retract_s"] = clock() - tr
        u.extra["retract_jobs"] = ctx.group_jobs(g)
        # checked here, before a wave can rediscover a retracted URL; the
        # check reads the store's files without Spark and is not timed
        tc = clock()
        self._check_retraction(eng, n, u)
        check_s = clock() - tc
        seq = 0
        for w in range(CRAWL_WAVES):
            g = f"u{u.index}-wave{w}"
            with ctx.group(g):
                ts = clock()
                st, seq = eng.step(w, seq, self.graph, self.robots)
                dt = clock() - ts
            u.ops.append({
                "wave": w, "s": dt, "jobs": ctx.group_jobs(g),
                "urls_in": st.urls_in, "urls_new": st.urls_new,
                "fetched": st.fetched, "errors": st.errors,
            })
            u.items += st.fetched + st.errors
        u.wall_s = clock() - t0 - check_s
        with ctx.group(f"u{u.index}-check"):
            self._check(eng, u)
            self._store_stats(eng, u)

    def _check_retraction(self, eng, n: int, u: Unit) -> None:
        if n != len(self.retract_urls):
            u.mismatch = f"retract removed {n} frontier rows, want {len(self.retract_urls)}"
            return
        gone = set(self.retract_urls)
        for table in ("seen", "queued"):
            left = sum(
                len(gone.intersection(pq.read_table(f["path"], columns=["url"])
                                      .column("url").to_pylist()))
                for f in eng.store.live_files(table) or []
            )
            if left:
                u.mismatch = f"{left} retracted URLs still in {table}"
                return

    def _check(self, eng, u: Unit) -> None:
        got = [
            (r["seq"], r["url"], r["host"], r["wave"], r["status"], r["fetch_ts"])
            for r in eng.crawl_order()
            .select("seq", "url", "host", "wave", "status", "fetch_ts")
            .collect()
        ]
        seen = {r["url"] for r in eng.seen_set().select("url").collect()}
        if u.mismatch:
            return
        if got != self.want_order:
            first = next(
                (i for i, (a, b) in enumerate(zip(got, self.want_order)) if a != b),
                min(len(got), len(self.want_order)),
            )
            u.mismatch = (
                f"crawl order differs at position {first} "
                f"({len(got)} fetched, reference {len(self.want_order)})"
            )
        elif len({g[1] for g in got}) != len(got):
            u.mismatch = "a URL was fetched twice"
        elif seen != self.want_seen:
            u.mismatch = (
                f"seen set differs: {len(seen - self.want_seen)} extra, "
                f"{len(self.want_seen - seen)} missing"
            )

    def _store_stats(self, eng, u: Unit) -> None:
        store = eng.store
        live_bytes = live_files = 0
        for t in store.list_tables():
            for f in store.live_files(t) or []:
                live_bytes += os.path.getsize(f["path"])
                live_files += 1
        u.extra["live_bytes"] = live_bytes
        u.extra["live_files"] = live_files
        u.extra["seen_rows"] = store.row_count("seen") or 0

    def after_traced_unit(self, u: Unit) -> None:
        """Layer probes that need the final store: sidecar size and FP rate,
        and the canonicalizer's row rate (outside the unit's wall time)."""
        from pyspark.sql import functions as F

        from csxj_crawler_spark.functions import urls as U
        from csxj_crawler_spark.operators import membership as M
        from csxj_crawler_spark.sources.snapshot import SnapshotStore

        ctx, spark = self.ctx, self.ctx.spark
        store = SnapshotStore(u.extra["store"], write_tasks=WRITE_TASKS)
        blooms = store.read(spark, "blooms")
        with ctx.group("probe-sidecar"):
            if blooms is not None:
                u.extra["sidecar_bytes"] = M.blooms_total_bytes(blooms)
                rows = [
                    (f"http://{self.hosts[i % len(self.hosts)]}/never-seen/p{i}",)
                    for i in range(FP_PROBES)
                ]
                cand = (
                    spark.createDataFrame(rows, "url string")
                    .withColumn("url_hash", U.url_hash(F.col("url")))
                    .withColumn("host_bucket", U.host_bucket(U.host_of(F.col("url")), N_BUCKETS))
                )
                maybe = M.bloom_probe_maybe_auto(cand, blooms).count()
                u.extra["fp_rate"] = maybe / FP_PROBES
        with ctx.group("probe-canon"):
            links = self.graph.select(F.explode("outlinks.url").alias("u"))
            walls = []
            for _ in range(3):
                t = clock()
                links.select(U.canonicalize_expr(F.col("u")).alias("c")).agg(
                    F.bit_xor(F.xxhash64("c"))
                ).collect()
                walls.append(clock() - t)
            u.extra["canon_rows_per_s"] = self.outlinks / median(walls)


# -- payload ------------------------------------------------------------------


class PayloadWorkload:
    op_name = "pass"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from csxj_crawler_spark.fixtures import generator

        ctx, spark = self.ctx, self.ctx.spark
        self.fix = ctx.path("img_fixture")
        generator.generate(
            self.fix, n_pages=IMG_PAGES, seed=ctx.seed, with_images=True,
            n_seeds_per_source=IMG_SEEDS_PER_SOURCE,
        )
        self.docs_dir = ctx.path("docs")
        docgen.generate(self.docs_dir, N_DOCS, seed=ctx.seed)
        img = pq.read_table(
            f"{self.fix}/images_captions.parquet", columns=["image_id", "phash"]
        ).to_pylist()
        self.want_phash = {r["image_id"]: r["phash"] for r in img}
        ids, hashes = [r["image_id"] for r in img], [r["phash"] for r in img]
        # the engine prunes over 4 x 16-bit band candidates (documented
        # recall < 1 at t = 6); the check holds it to that rule, and the
        # images the exact rule would also drop are reported, not failed
        self.want_kept = oracles.keep_first_brute_force(ids, hashes, band_bits=16)
        self.exact_kept = oracles.keep_first_brute_force(ids, hashes)
        self.images = spark.read.parquet(f"{self.fix}/images_captions.parquet").cache()
        self.images.count()

    def warmup(self) -> None:
        """One decode + prune, and the LSH pair set the cluster reference is
        built from (which also warms the MinHash path)."""
        from csxj_crawler_spark.operators import payload as P
        from csxj_crawler_spark.queries import dedupops

        P.decode_and_phash(self.images).collect()
        P.phash_prune_keep_first(self.images).select("image_id").collect()
        pairs = [
            (r["doc_a"], r["doc_b"])
            for r in dedupops.q_dedup_minhash_lsh(self.ctx.spark, self.docs_dir)
            .select("doc_a", "doc_b").collect()
        ]
        self.want_cluster = oracles.union_find_clusters(range(N_DOCS), pairs)
        self.want_size = Counter(self.want_cluster.values())

    def unit(self, index: int, traced: bool) -> Unit:
        return _run_unit(self._pass, Unit(index, traced))

    def _pass(self, u: Unit) -> None:
        from csxj_crawler_spark.operators import payload as P
        from csxj_crawler_spark.queries import dedupops

        ctx, spark = self.ctx, self.ctx.spark
        g = f"u{u.index}-pass"
        with ctx.group(g):
            t0 = clock()
            with ctx.bench_span("payload.decode_phash"):
                dec = P.decode_and_phash(self.images).select(
                    "image_id", "phash_re", "decode_ok"
                ).collect()
            t1 = clock()
            with ctx.bench_span("payload.prune"):
                kept = {r["image_id"] for r in P.phash_prune_keep_first(self.images)
                        .select("image_id").collect()}
            t2 = clock()
            with ctx.bench_span("dedup.clusters"):
                labels = dedupops.q_dedup_clusters(spark, self.docs_dir).collect()
            t3 = clock()
        n_img = len(dec)
        u.wall_s = t3 - t0
        u.items = n_img + len(labels)
        u.ops.append({"s": t3 - t0, "jobs": ctx.group_jobs(g)})
        u.extra.update(
            images=n_img, docs=len(labels), images_s=t2 - t0, docs_s=t3 - t2,
            decode_phash_s=t1 - t0, prune_s=t2 - t1, kept=len(kept),
            decode_failed=sum(1 for r in dec if not r["decode_ok"]),
            neardup_misses=len(kept - self.exact_kept),
        )
        self._check(dec, kept, labels, u)

    def _check(self, dec, kept, labels, u: Unit) -> None:
        got_phash = {r["image_id"]: r["phash_re"] for r in dec if r["decode_ok"]}
        if got_phash != self.want_phash:
            bad = sum(1 for k, v in self.want_phash.items() if got_phash.get(k) != v)
            u.mismatch = f"{bad} images decoded to a wrong or missing pHash"
        elif kept != self.want_kept:
            u.mismatch = (
                f"prune kept {len(kept - self.want_kept)} extra, "
                f"dropped {len(self.want_kept - kept)} it should keep"
            )
        elif len(labels) != N_DOCS or any(
            r["cluster_id"] != self.want_cluster.get(r["doc_id"])
            or r["cluster_size"] != self.want_size[r["cluster_id"]]
            or r["keep"] != (r["doc_id"] == r["cluster_id"])
            for r in labels
        ):
            u.mismatch = "dedup clusters differ from the union-find closure of the pairs"

    def after_traced_unit(self, u: Unit) -> None:
        from csxj_crawler_spark.queries import dedupops

        ctx = self.ctx
        with ctx.group("probe-lsh"), ctx.bench_span("dedup.lsh_pairs"):
            t = clock()
            n = dedupops.q_dedup_minhash_lsh(ctx.spark, self.docs_dir).select(
                "doc_a", "doc_b"
            ).collect()
            u.extra["lsh_pairs_s"] = clock() - t
        u.extra["pairs"] = len(n)


def make(name: str, ctx):
    if name == "crawl_sidecar_churn":
        return CrawlWorkload(ctx)
    if name == "payload_dedup":
        return PayloadWorkload(ctx)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("crawl_sidecar_churn", "payload_dedup")
