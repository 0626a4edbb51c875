"""Aggregate a Spark event log by the job description each job ran under.

The benchmark labels the jobs a span launches with the span's key (see
``run.py``), so every job, and through its stages every task, is attributed
to exactly one span.  Read after ``SparkContext.stop()``, when the log is
complete.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass


@dataclass
class Agg:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0


def _key(props: dict | None) -> str:
    props = props or {}
    return props.get("spark.job.description") or props.get("spark.jobGroup.id") or ""


def aggregate(lines) -> dict[str, Agg]:
    """Fold event-log JSON lines into per-key job/task aggregates.  A stage
    belongs to the first job that lists it; tasks of unknown stages go to
    the empty key."""
    out: dict[str, Agg] = {}
    stage_key: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            k = _key(ev.get("Properties"))
            out.setdefault(k, Agg()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, k)
        elif kind == "SparkListenerTaskEnd":
            k = stage_key.get(ev.get("Stage ID"), "")
            a = out.setdefault(k, Agg())
            info = ev.get("Task Info", {})
            a.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                a.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            a.task_s += m.get("Executor Run Time", 0) / 1000.0
            a.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            a.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
    return out


def _log_files(event_dir: str) -> list[str]:
    """Event files in ``event_dir``: single-file logs and the numbered
    ``events_<n>_<app>`` parts of rolling (``eventlog_v2_*``) logs, in
    order.  Unfinished (``.inprogress``) and status files are skipped."""
    found = []
    for dirpath, _dirs, files in os.walk(event_dir):
        for fn in files:
            if fn.startswith((".", "appstatus")) or fn.endswith(".inprogress"):
                continue
            m = re.match(r"events_(\d+)_", fn)
            found.append((dirpath, int(m.group(1)) if m else 0, fn))
    return [os.path.join(d, fn) for d, _n, fn in sorted(found)]


def read_dir(event_dir: str) -> dict[str, Agg]:
    """Aggregate every finished event log under ``event_dir``."""
    lines: list[str] = []
    for p in _log_files(event_dir):
        with open(p) as f:
            lines.extend(f)
    return aggregate(lines)
