import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_aggregates_recorded_log_by_job_description():
    # recorded from local[2]: a 4-partition collect under "stage#1", a
    # groupBy-count (4 map + 2 reduce tasks) under "commit#2", and a count
    # under job group "wave1" with no description of its own
    with open(DATA) as f:
        s = eventlog.aggregate(f)
    assert set(s) == {"stage#1", "commit#2", "wave1"}
    assert (s["stage#1"].jobs, s["stage#1"].tasks) == (1, 4)
    c = s["commit#2"]
    assert (c.jobs, c.tasks, c.failed_tasks) == (1, 6, 0)
    assert c.shuffle_write_bytes == c.shuffle_read_bytes == 535
    assert c.task_s == pytest.approx(1.292)
    assert sum(a.tasks for a in s.values()) == 11


def test_failed_tasks_and_unknown_stages():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
                    "Properties": {"spark.job.description": "x#0"}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 3,
                    "Task Info": {"Failed": True}, "Task Metrics": {"Executor Run Time": 500}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Info": {}}),
    ]
    s = eventlog.aggregate(lines)
    assert s["x#0"].failed_tasks == 1 and s["x#0"].task_s == 0.5
    assert s[""].tasks == 1


def test_read_dir_orders_rolling_parts_and_skips_unfinished(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    job = {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
           "Properties": {"spark.job.description": "a#0"}}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {}}
    (app / "events_2_local-1").write_text(json.dumps(task) + "\n")
    (app / "events_1_local-1").write_text(json.dumps(job) + "\n")
    (app / "appstatus_local-1").write_text("")
    (tmp_path / "local-2.inprogress").write_text(json.dumps(job) + "\n")
    s = eventlog.read_dir(str(tmp_path))
    assert s["a#0"].jobs == 1 and s["a#0"].tasks == 1
