"""Per-layer metrics from the spans and event log of traced units.

Every metric listed in ``PER_LAYER`` is emitted on every workload; a layer a
workload never enters reads 0.  Times are seconds.  Per-wave phases are the
median over the waves of a unit; per-crawl events are totals over a unit;
both are then the median over the traced units of a run.
"""

from __future__ import annotations

from perfbench.eventlog import Agg
from perfbench.spans import Span, Tracer
from perfbench.stats import median

STAGED_TABLES = ("fetch_log", "seen", "queued", "excluded", "wave_metrics")
SIDECAR_TABLES = ("blooms", "cuckoos")
#: span classes whose Spark task time and shuffle bytes are reported
SPARK_SPANS = (
    "bootstrap", "step", "retract", "stage.fetch_log", "stage.seen",
    "stage.queued", "sidecar", "compact", "decode_phash", "prune", "dedup",
)

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "crawl_urls_per_s": ("1/s", "higher"),
    "wave_p50_s": ("s", "lower"),
    "jobs_per_wave": ("count", "lower"),
    "store_bytes_per_url": ("B", "lower"),
    "images_per_s": ("1/s", "higher"),
    "docs_per_s": ("1/s", "higher"),
    "fail_frac": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "trace.items_per_s": ("1/s", "higher"),
    "trace.hook_frac": ("ratio", "lower"),
    "crawl.step_self_s": ("s", "lower"),
    "crawl.bootstrap_s": ("s", "lower"),
    "crawl.step_tasks": ("count", "lower"),
    "crawl.retract_s": ("s", "lower"),
    "crawl.retract_jobs": ("count", "lower"),
    **{f"snapshot.stage_s.{t}": ("s", "lower") for t in STAGED_TABLES},
    **{f"snapshot.stage_jobs.{t}": ("count", "lower") for t in STAGED_TABLES},
    "snapshot.txn_commit_s": ("s", "lower"),
    "snapshot.meta_s": ("s", "lower"),
    "snapshot.meta_calls": ("count", "lower"),
    "snapshot.compact_s": ("s", "lower"),
    "snapshot.compactions": ("count", "lower"),
    "snapshot.bytes_written": ("B", "lower"),
    "snapshot.files_written": ("count", "lower"),
    "snapshot.write_amp": ("ratio", "lower"),
    "snapshot.live_files": ("count", "lower"),
    "membership.sidecar_commit_s": ("s", "lower"),
    "membership.sidecar_jobs": ("count", "lower"),
    "membership.full_builds": ("count", "lower"),
    "membership.delta_merges": ("count", "lower"),
    "membership.sidecar_bytes": ("B", "lower"),
    "membership.fp_rate": ("ratio", "lower"),
    "urls.canon_rows_per_s": ("1/s", "higher"),
    "payload.decode_phash_s": ("s", "lower"),
    "payload.prune_s": ("s", "lower"),
    "payload.images_kept": ("count", "higher"),
    "payload.decode_failed": ("count", "lower"),
    "payload.neardup_misses": ("count", "lower"),
    "dedup.lsh_pairs_s": ("s", "lower"),
    "dedup.pairs": ("count", "higher"),
    "graph.cc_s": ("s", "lower"),
    "graph.cc_jobs": ("count", "lower"),
    **{f"spark.task_s.{s}": ("s", "lower") for s in SPARK_SPANS},
    **{f"spark.shuffle_bytes.{s}": ("B", "lower") for s in SPARK_SPANS},
    "spark.failed_tasks": ("count", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
}


def span_key(sp: Span) -> str:
    """The Spark job description a span's own jobs run under."""
    return f"{sp.name}#{sp.id}"


def inclusive_aggs(tracer: Tracer, ev: dict[str, Agg]) -> dict[int, Agg]:
    """Event-log aggregates per span, each including its descendants."""
    incl = {sp.id: Agg() for sp in tracer.spans}
    for sp in tracer.spans:
        a = ev.get(span_key(sp))
        if a is not None:
            _add(incl[sp.id], a)
    # children are opened after their parent, so reverse order is post-order
    for sp in reversed(tracer.spans):
        if sp.parent is not None:
            _add(incl[sp.parent], incl[sp.id])
    return incl


def _add(into: Agg, a: Agg) -> None:
    into.jobs += a.jobs
    into.tasks += a.tasks
    into.failed_tasks += a.failed_tasks
    into.task_s += a.task_s
    into.shuffle_write_bytes += a.shuffle_write_bytes
    into.shuffle_read_bytes += a.shuffle_read_bytes


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def spark_class(sp: Span, tracer: Tracer) -> str | None:
    """Which ``SPARK_SPANS`` class a span reports under, if any."""
    n = sp.name
    if n == "crawl.bootstrap":
        return "bootstrap"
    if n == "crawl.step":
        return "step"
    if n == "crawl.retract":
        return "retract"
    if n == "snapshot.stage" and sp.attrs.get("table") in ("fetch_log", "seen", "queued"):
        if any(a.name == "crawl.step" for a in tracer.ancestors(sp)):
            return f"stage.{sp.attrs['table']}"
    if n == "snapshot.commit" and sp.attrs.get("table") in SIDECAR_TABLES:
        if not any(a.name == "snapshot.compact" for a in tracer.ancestors(sp)):
            return "sidecar"
    if n == "snapshot.compact":
        return "compact"
    if n == "payload.decode_phash":
        return "decode_phash"
    if n == "payload.prune":
        return "prune"
    if n == "dedup.clusters":
        return "dedup"
    return None


def unit_metrics(tracer: Tracer, root: Span, incl: dict[int, Agg], self_s: dict[int, float]) -> dict:
    """Layer metrics of one traced unit, rooted at its ``bench.unit`` span."""
    kids = tracer.children()
    subtree: list[Span] = []
    todo = [root]
    while todo:
        sp = todo.pop()
        subtree.append(sp)
        todo.extend(kids.get(sp.id, []))
    subtree.sort(key=lambda s: s.id)

    def named(name):
        return [s for s in subtree if s.name == name]

    def under(sp, name):
        return any(a.name == name for a in tracer.ancestors(sp))

    steps = named("crawl.step")
    m: dict[str, float] = {}
    m["crawl.step_self_s"] = _med(self_s[s.id] for s in steps)
    m["crawl.step_tasks"] = _med(incl[s.id].tasks for s in steps)
    m["crawl.bootstrap_s"] = sum(s.duration for s in named("crawl.bootstrap"))
    m["crawl.retract_s"] = sum(s.duration for s in named("crawl.retract"))
    m["crawl.retract_jobs"] = sum(incl[s.id].jobs for s in named("crawl.retract"))

    stages = [s for s in named("snapshot.stage") if under(s, "crawl.step")]
    for t in STAGED_TABLES:
        mine = [s for s in stages if s.attrs.get("table") == t]
        m[f"snapshot.stage_s.{t}"] = _med(s.duration for s in mine)
        m[f"snapshot.stage_jobs.{t}"] = _med(incl[s.id].jobs for s in mine)
    m["snapshot.txn_commit_s"] = _med(
        s.duration for s in named("snapshot.txn_commit") if under(s, "crawl.step")
    )
    meta_s, meta_n = [], []
    for st in steps:
        inside = [s for s in subtree if s.name == "snapshot.meta"
                  and any(a.id == st.id for a in tracer.ancestors(s))]
        meta_n.append(len(inside))
        meta_s.append(sum(
            s.duration for s in inside
            if tracer.spans[s.parent].name != "snapshot.meta"
        ))
    m["snapshot.meta_s"] = _med(meta_s)
    m["snapshot.meta_calls"] = _med(meta_n)
    compacts = named("snapshot.compact")
    m["snapshot.compact_s"] = sum(s.duration for s in compacts)
    m["snapshot.compactions"] = len(compacts)
    writes = [s for s in subtree if s.name in ("snapshot.stage", "snapshot.commit")]
    m["snapshot.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes)
    m["snapshot.files_written"] = sum(s.attrs.get("files", 0) for s in writes)

    sidecar = [s for s in named("snapshot.commit")
               if s.attrs.get("table") in SIDECAR_TABLES and not under(s, "snapshot.compact")]
    m["membership.sidecar_commit_s"] = sum(s.duration for s in sidecar)
    m["membership.sidecar_jobs"] = sum(incl[s.id].jobs for s in sidecar)
    m["membership.full_builds"] = sum(
        1 for s in named("membership.build") if not s.attrs.get("delta")
    )
    m["membership.delta_merges"] = len(named("membership.merge"))

    cc = named("graph.cc")
    m["graph.cc_s"] = sum(s.duration for s in cc)
    m["graph.cc_jobs"] = sum(incl[s.id].jobs for s in cc)

    for cls in SPARK_SPANS:
        m[f"spark.task_s.{cls}"] = 0.0
        m[f"spark.shuffle_bytes.{cls}"] = 0.0
    for s in subtree:
        cls = spark_class(s, tracer)
        if cls is not None:
            m[f"spark.task_s.{cls}"] += incl[s.id].task_s
            m[f"spark.shuffle_bytes.{cls}"] += incl[s.id].shuffle_write_bytes
    m["spark.failed_tasks"] = incl[root.id].failed_tasks
    m["_task_s"] = incl[root.id].task_s
    return m
