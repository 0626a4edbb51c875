"""Crawl-engine benchmark: one workload per run.

    python3 perfbench/run.py --workload crawl_sidecar_churn --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates its inputs from ``--seed``,
starts Spark on ``local[N]`` (N = min(4, cores)), sets up and warms up the
workload, then runs timed units (crawls or payload passes) until
``--seconds`` have passed, checking every unit against an independent
reference.  ``--trace 1`` records spans and the Spark event log and reports
per-layer metrics instead of end-to-end ones.

The last line of stdout is the summary JSON; everything else (per-unit rows,
spans, event-log aggregates, host conditions, sample counts and tail
percentiles) goes to ``.perfbench_out/<workload>-seed<n>-trace<t>.json``.
All scratch data lives under ``.perfbench_out/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL_N_MAX = 4
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "jobs_per_op": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def summary_line(attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": attempted >= 1 and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


class Context:
    """Spark session, scratch space, job groups and the tracer of one run."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.work = os.path.join(self.out, f"work-{os.getpid()}")
        self.events = os.path.join(self.work, "events")
        self.spark = None
        self.tracer = None
        self._group = "bench"
        self._n = 0
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # scratch files of this process, Spark's launcher and its workers
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")

    # -- scratch ------------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        p = self.path(f"{prefix}{self._n}")
        os.makedirs(p)
        return p

    # -- spark --------------------------------------------------------------
    def start_spark(self, local_n: int) -> None:
        # Spark's python workers import the engine by module path: make the
        # checkout importable regardless of the working directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # keep every scratch file in the checkout: shuffle/spill dirs (the
        # variable wins over spark.local.dir), and the temp dir and no
        # hsperfdata for the launcher's JVM as well as the driver's
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        )
        from csxj_crawler_spark.session import get_spark

        extra = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.events, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app=f"perfbench-{self.workload}", master=f"local[{local_n}]",
            shuffle_partitions=local_n, extra=extra,
        )
        # the engine's global wave rank is a single-partition window by
        # design; its per-wave WindowExec warning is expected noise
        jvm = self.spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )

    def jvm_pid(self) -> int | None:
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        return None if proc is None else proc.pid

    def stop_spark(self) -> None:
        """Stop the context, then end the JVM (it exits when its stdin
        closes) and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # -- job attribution ----------------------------------------------------
    @contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        prev = self._group
        self._group = name
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._group = prev
            sc.setJobGroup(prev, prev)

    def group_jobs(self, name: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(name))

    def bench_span(self, name: str):
        if self.tracer is None or not self.tracer.enabled:
            return nullcontext()
        return self.tracer.span(name)

    def _describe(self, tracer, _sp) -> None:
        from perfbench.layers import span_key

        cur = tracer.current
        self.spark.sparkContext.setLocalProperty(
            "spark.job.description", span_key(cur) if cur else self._group
        )

    def install_tracer(self) -> None:
        from perfbench.spans import Tracer

        from csxj_crawler_spark.operators import graph as G
        from csxj_crawler_spark.operators import membership as M
        from csxj_crawler_spark.plans import crawl as C
        from csxj_crawler_spark.queries import dedupops as D
        from csxj_crawler_spark.sources import snapshot as S

        t = Tracer(on_enter=self._describe, on_exit=self._describe)

        def table_at(i):
            def describe(args, kwargs, result):
                table = args[i] if len(args) > i else kwargs.get("table")
                out = {"table": table}
                if isinstance(result, dict) and "files" in result:
                    new = result["files"][-result["new_files"]:] if result["new_files"] else []
                    out["files"] = len(new)
                    out["bytes"] = sum(os.path.getsize(f["path"]) for f in new)
                return out
            return describe

        t.wrap(C.CrawlEngine, "bootstrap", "crawl.bootstrap")
        t.wrap(C.CrawlEngine, "step", "crawl.step")
        t.wrap(C.CrawlEngine, "retract", "crawl.retract")
        t.wrap(S.Transaction, "stage", "snapshot.stage", table_at(2))
        t.wrap(S.Transaction, "stage_pylist", "snapshot.stage", table_at(3))
        t.wrap(S.Transaction, "commit", "snapshot.txn_commit")
        t.wrap(S.SnapshotStore, "commit", "snapshot.commit", table_at(2))
        t.wrap(S.SnapshotStore, "compact", "snapshot.compact", table_at(2))
        for meth in ("read", "row_count", "manifest"):
            t.wrap(S.SnapshotStore, meth, "snapshot.meta")
        t.wrap(M, "build_blooms", "membership.build",
               lambda a, kw, r: {"delta": kw.get("min_m_by_key") is not None})
        t.wrap(M, "merge_blooms", "membership.merge")
        t.wrap(M, "bloom_probe_maybe_auto", "membership.probe")
        t.wrap(M, "build_cuckoos", "membership.build")
        t.wrap(M, "cuckoo_update", "membership.update")
        t.wrap(G, "connected_components", "graph.cc")
        t.wrap(D, "q_dedup_minhash_lsh", "dedup.lsh")
        t.enabled = False
        self.tracer = t


def end_to_end(units, setup_s: float) -> dict:
    """End-to-end metrics over the units that ran to the end (a unit that
    raised has no timings); none when no unit did."""
    from perfbench.stats import median

    units = [u for u in units if u.error is None]
    if not units:
        return {}
    ops = [op for u in units for op in u.ops]
    vals = {
        "setup_s": setup_s,
        "items_per_s": sum(u.items for u in units) / sum(u.wall_s for u in units),
        "op_p50_s": median(op["s"] for op in ops),
        "jobs_per_op": median(op["jobs"] for op in ops),
    }
    return {k: (float(v), END_TO_END[k]) for k, v in vals.items()}


def per_layer(ctx, wl, units, traced_roots, ev, local_n: int, peak_rss_mb: float) -> dict:
    """Per-layer metrics over the traced units that ran to the end, as in
    :func:`end_to_end`; ``traced_roots`` holds each unit's root span."""
    from perfbench import layers
    from perfbench.stats import median

    done = [(u, r) for u, r in zip(units, traced_roots) if u.error is None]
    if not done:
        return {}
    tracer = ctx.tracer
    incl = layers.inclusive_aggs(tracer, ev)
    self_s = tracer.self_times()
    traced = [u for u, _ in done]
    per_unit = [layers.unit_metrics(tracer, r, incl, self_s) for _, r in done]
    vals: dict[str, float] = {}
    for name in layers.PER_LAYER:
        xs = [m[name] for m in per_unit if name in m]
        vals[name] = median(xs) if xs else 0.0
    busy = sum(m["_task_s"] for m in per_unit)
    vals["spark.busy_frac"] = busy / (sum(u.wall_s for u in traced) * local_n)
    vals["trace.items_per_s"] = sum(u.items for u in traced) / sum(u.wall_s for u in traced)
    vals["trace.hook_frac"] = sum(u.extra["trace_hook_s"] for u in traced) / sum(
        u.wall_s for u in traced)
    vals["fail_frac"] = sum(u.failed for u in units) / len(units)
    vals["peak_rss_mb"] = peak_rss_mb

    def ex(key):
        xs = [u.extra[key] for u in traced if key in u.extra]
        return median(xs) if xs else 0.0

    if wl.op_name == "wave":
        waves = [op for u in traced for op in u.ops]
        vals["crawl_urls_per_s"] = sum(u.items for u in traced) / sum(u.wall_s for u in traced)
        vals["wave_p50_s"] = median(op["s"] for op in waves)
        vals["jobs_per_wave"] = median(op["jobs"] for op in waves)
        vals["store_bytes_per_url"] = ex("live_bytes") / max(1.0, ex("seen_rows"))
        vals["snapshot.live_files"] = ex("live_files")
        vals["snapshot.write_amp"] = (
            vals["snapshot.bytes_written"] / ex("live_bytes") if ex("live_bytes") else 0.0
        )
        vals["membership.sidecar_bytes"] = ex("sidecar_bytes")
        vals["membership.fp_rate"] = ex("fp_rate")
        vals["urls.canon_rows_per_s"] = ex("canon_rows_per_s")
    else:
        vals["images_per_s"] = sum(u.extra["images"] for u in traced) / sum(
            u.extra["images_s"] for u in traced)
        vals["docs_per_s"] = sum(u.extra["docs"] for u in traced) / sum(
            u.extra["docs_s"] for u in traced)
        vals["payload.decode_phash_s"] = ex("decode_phash_s")
        vals["payload.prune_s"] = ex("prune_s")
        vals["payload.images_kept"] = ex("kept")
        vals["payload.decode_failed"] = ex("decode_failed")
        vals["payload.neardup_misses"] = ex("neardup_misses")
        vals["dedup.lsh_pairs_s"] = ex("lsh_pairs_s")
        vals["dedup.pairs"] = ex("pairs")
    vals["spark.failed_tasks"] = float(sum(a.failed_tasks for a in ev.values()))
    return {k: (float(vals[k]), layers.PER_LAYER[k][0]) for k in layers.PER_LAYER}


def timing_summaries(units, setup: dict) -> dict:
    from perfbench.stats import summarize

    units = [u for u in units if u.error is None]
    ops = [op["s"] for u in units for op in u.ops]
    return {
        "op_s": summarize(ops),
        "unit_wall_s": summarize([u.wall_s for u in units]),
        "setup_parts_s": setup,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "csxj_crawler_spark")):
        print(f"engine package csxj_crawler_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    local_n = min(LOCAL_N_MAX, host.nproc())
    ctx = Context(args.workload, args.seed, bool(args.trace))
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host_start": host.conditions(local_n),
    }
    units = []
    status = 1
    try:
        t0 = time.perf_counter()
        ctx.start_spark(local_n)
        session_s = time.perf_counter() - t0 + (t0 - T_PROCESS)
        wl = workloads.make(args.workload, ctx)
        t0 = time.perf_counter()
        wl.setup()
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup = {"session_s": session_s, "prep_s": prep_s, "warmup_s": warmup_s}
        setup_s = session_s + prep_s + warmup_s
        if ctx.trace:
            ctx.install_tracer()
        rss = host.PeakRss([os.getpid(), ctx.jvm_pid()])
        rss.start()
        traced_roots = []
        t_end = time.perf_counter() + args.seconds
        i = 0
        # a traced run repeats the untraced protocol with every unit traced,
        # so the gap between the two runs' item rates is the tracing overhead
        while i < 1 or time.perf_counter() < t_end:
            if ctx.trace:
                ctx.tracer.enabled = True
                hook0 = ctx.tracer.hook_s
                with ctx.tracer.span("bench.unit", index=i) as root:
                    u = wl.unit(i, True)
                ctx.tracer.enabled = False
                u.extra["trace_hook_s"] = ctx.tracer.hook_s - hook0
                traced_roots.append(root)
                if u.error is None:
                    wl.after_traced_unit(u)
            else:
                u = wl.unit(i, False)
            units.append(u)
            i += 1
        peak_rss_mb = side["peak_rss_mb"] = rss.peak_mb()
        side["units"] = [dataclasses.asdict(u) for u in units]
        side["timings"] = timing_summaries(units, setup)
        failed = sum(u.failed for u in units)
        if ctx.trace:
            ctx.tracer.unwrap_all()
            ctx.stop_spark()
            from perfbench import eventlog

            ev = eventlog.read_dir(ctx.events)
            metrics = per_layer(ctx, wl, units, traced_roots, ev, local_n, peak_rss_mb)
            side["spans"] = ctx.tracer.to_rows()
            side["eventlog"] = {k: vars(a) for k, a in ev.items()}
        else:
            metrics = end_to_end(units, setup_s)
        side["host_end"] = host.conditions(local_n)
        side["summary"] = {k: {"value": v, "unit": un} for k, (v, un) in metrics.items()}
        line = summary_line(len(units), failed, metrics)
        status = 0
    except Exception:
        traceback.print_exc()
        side["error"] = traceback.format_exc()
        line = None
    finally:
        try:
            ctx.stop_spark()
        finally:
            side_path = os.path.join(
                ctx.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
            )
            with open(side_path, "w") as f:
                json.dump(side, f, indent=1, default=str)
            print(f"details: {side_path}", file=sys.stderr)
            shutil.rmtree(ctx.work, ignore_errors=True)
    for u in units:
        if u.failed:
            print(f"unit {u.index} failed: {u.error or u.mismatch}", file=sys.stderr)
    if line is None:
        return status
    print(line, flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
