import json
import os
import re
import shutil
import subprocess
import sys

from perfbench import layers, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_summary_line_schema():
    line = run.summary_line(3, 0, {"setup_s": (1.5, "s"), "items_per_s": (10.25, "1/s")})
    d = json.loads(line)
    assert "\n" not in line
    assert set(d) == {"correct", "attempted", "failed", "metrics"}
    assert d["correct"] is True and d["attempted"] == 3 and d["failed"] == 0
    assert d["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert all(set(m) == {"value", "unit"} for m in d["metrics"].values())
    assert json.loads(run.summary_line(3, 1, {}))["correct"] is False
    assert json.loads(run.summary_line(0, 0, {}))["correct"] is False


def test_a_unit_that_raises_fails_the_run_and_is_left_out_of_the_metrics():
    def boom(u):
        u.ops.append({"s": 1.0, "jobs": 3})
        raise RuntimeError("engine error")

    def crawl(u):
        u.wall_s, u.items = 4.0, 100
        u.ops.append({"s": 3.0, "jobs": 40})

    bad = workloads._run_unit(boom, workloads.Unit(0, False))
    assert bad.failed and "engine error" in bad.error
    alone = run.end_to_end([bad], 2.5)
    assert alone == {}
    d = json.loads(run.summary_line(1, 1, alone))
    assert d["correct"] is False and d["failed"] == 1 and d["metrics"] == {}

    good = workloads._run_unit(crawl, workloads.Unit(1, False))
    assert not good.failed
    m = run.end_to_end([bad, good], 2.5)
    assert m == {"setup_s": (2.5, "s"), "items_per_s": (25.0, "1/s"),
                 "op_p50_s": (3.0, "s"), "jobs_per_op": (40.0, "count")}
    assert run.timing_summaries([bad, good], {})["op_s"]["n"] == 1


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == layers.PER_LAYER


def test_benchmark_json_within_contract_limits():
    b = _bench()
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert all(m["better"] in ("higher", "lower") for k in ("end_to_end", "per_layer") for m in b[k])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert b["command"][:2] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"]


def test_exits_nonzero_without_a_result_when_the_engine_is_absent(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_sidecar_churn", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
