"""Tests of the span arithmetic and the on-disk diffs in layers.py."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402


def span(i, name, start, end, parent=None, op="o"):
    return {"id": i, "name": name, "op": op, "parent": parent,
            "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    spans = [
        span(0, "op", 0.0, 10.0),
        span(1, "construct", 0.0, 4.0, 0),
        span(2, "job", 1.0, 2.0, 1),
        span(3, "job", 1.5, 3.0, 1),  # overlaps the first job
        span(4, "execute", 4.0, 9.0, 0),
    ]
    selfs = layers.self_times(spans)
    assert selfs["op"] == 1.0
    assert selfs["construct"] == 2.0
    assert selfs["job"] == 2.5
    assert selfs["execute"] == 5.0
    covered, wall = layers.subtree_self_sum(spans, "op")
    # overlapping siblings are counted once in their parent but twice in
    # their own self time, so coverage can exceed 1 only by the overlap
    assert wall == 10.0
    assert covered == 10.5


def test_tracer_nests_and_disabled_tracer_records_nothing():
    tr = layers.Tracer(True)
    with tr.span("op", "x") as root:
        with tr.span("child") as child:
            pass
    assert child["parent"] == root["id"] and child["op"] == "x"
    tr.add("job", root["start"], root["end"], child)
    assert tr.spans[-1]["parent"] == child["id"]
    off = layers.Tracer(False)
    with off.span("op", "x") as rec:
        assert rec is None
    assert off.spans == []


def test_store_delta_counts_new_entries(tmp_path):
    root = tmp_path / "store"
    (root / "artifacts").mkdir(parents=True)
    (root / "tiers").mkdir()
    before = layers.store_entries(str(root))
    (root / "artifacts" / "a.json").write_text("x" * 1024)
    (root / "tiers" / "t1").mkdir()
    (root / "tiers" / "t1" / "part.parquet").write_bytes(b"y" * 2048)
    (root / "tiers" / "t2.tmp.123").mkdir()  # in-flight build: ignored
    delta = layers.store_delta(before, layers.store_entries(str(root)))
    assert delta["artifacts.builds"] == 1
    assert delta["tiers.builds"] == 1
    assert delta["tiers.mb"] == 2048 / layers.MB


def test_tree_rss_includes_this_process():
    assert layers.tree_rss_bytes(os.getpid()) > 0


def test_event_log_groups_jobs_stages_and_tasks(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4},
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": 250}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 100,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 9}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    g = layers.read_event_log(str(tmp_path))["g"]
    assert g["jobs"] == [(1.0, 3.0)]
    assert (g["stages"], g["tasks"]) == (2, 2)
    assert g["task_s"] == 0.6
    assert (g["shuffle_read_b"], g["shuffle_write_b"], g["spill_b"]) == (10, 10, 7)
    assert g["python_s"] == 0.25


def test_alive_tells_running_from_gone():
    import subprocess
    import sys as _sys

    proc = subprocess.Popen([_sys.executable, "-c", "pass"])
    assert layers.alive(os.getpid())
    proc.wait()
    assert not layers.alive(proc.pid)
