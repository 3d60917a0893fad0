"""Tests for the benchmark's own helpers. Run from the repo root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import common


def test_pct_nearest_rank_with_ten_samples_beyond():
    values = list(range(1, 51))  # 50 samples
    assert common.pct(values, 0.8) == 40  # 10 samples lie beyond it
    assert common.pct(values, 0.5) == 25
    assert common.median(values) == 25.5


def test_pct_refuses_a_tail_the_sample_cannot_support():
    with pytest.raises(ValueError, match="49 samples leave 9"):
        common.pct(range(49), 0.8)
    assert common.pct(range(49), 0.8, min_beyond=9) == 39
    with pytest.raises(ValueError):
        common.pct([], 0.5)


def test_interval_union_merges_overlaps():
    assert common.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert common.interval_union([]) == 0


def _event_log(path):
    def task(stage, run_ms, cpu_ns, gc_ms=0, shuffle=0, spill=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "build:q1"}},
        task(0, 1000, 400_000_000, gc_ms=50, shuffle=2**20),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "exec:q1"}},
        task(2, 3000, 1_000_000_000, spill=2**21),
        task(2, 1000, 1_000_000_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        task(3, 10, 10_000_000),
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_event_log_aggregation_per_job_group(tmp_path):
    log = tmp_path / "app-1"
    _event_log(log)
    agg = common.aggregate_event_log(str(log))
    build, exe = agg["build:q1"], agg["exec:q1"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert build["python_s"] == pytest.approx(0.6)
    assert build["gc_s"] == pytest.approx(0.05)
    assert build["shuffle_write_mb"] == pytest.approx(1.0)
    assert (exe["jobs"], exe["stages"], exe["tasks"]) == (1, 1, 2)
    assert exe["executor_run_s"] == pytest.approx(4.0)
    assert exe["executor_cpu_s"] == pytest.approx(2.0)
    assert exe["python_s"] == pytest.approx(2.0)
    assert exe["spill_mb"] == pytest.approx(2.0)
    assert agg[""]["tasks"] == 1
    both = common.merge_groups(agg, lambda g: g.endswith(":q1"))
    assert both["tasks"] == 3


def test_event_log_aggregation_reads_a_rolling_log(tmp_path):
    _event_log(tmp_path / "whole")
    lines = (tmp_path / "whole").read_text().splitlines(keepends=True)
    roll = tmp_path / "eventlog_v2_app-1"
    roll.mkdir()
    (roll / "events_1_app-1").write_text("".join(lines[:4]))
    (roll / "events_2_app-1").write_text("".join(lines[4:]))
    (roll / "appstatus_app-1").write_text("")
    assert common.aggregate_event_log(str(roll)) == common.aggregate_event_log(
        str(tmp_path / "whole")
    )


def _source_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///land/{name}", "timestamp": 1, "batchId": batch}) + "\n")


def test_lag_attribution_reads_compacted_and_plain_batches(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    commits = tmp_path / "commits"
    commits.mkdir()
    # Batches 0..9 survive only inside 9.compact; 10 and 11 are plain.
    _source_log(src / "9.compact", [(f"f{b}.json", b) for b in range(10)])
    _source_log(src / "10", [("f10.json", 10), ("f10b.json", 10)])
    _source_log(src / "11", [("f11.json", 11)])
    (src / ".11.tmp").write_text("partial")
    for b in (9, 10):
        (commits / str(b)).write_text("v1\n{}")
        os.utime(commits / str(b), (1000.0 + b, 1000.0 + b))
    # batch 11 has no commit yet
    batches = common.file_batches(str(tmp_path))
    assert batches["f3.json"] == 3 and batches["f10b.json"] == 10
    assert batches["f11.json"] == 11
    done = common.file_commit_times(str(tmp_path))
    assert done["f9.json"] == 1009.0
    assert done["f10.json"] == done["f10b.json"] == 1010.0
    assert "f11.json" not in done and "f3.json" not in done  # 3 never committed


def test_golden_hash_normalizer_ignores_row_and_column_order():
    from query_suite import result_hash

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
    b = pd.DataFrame({"v": [None, 0.2, 0.1], "k": [3, 2, 1]})
    assert result_hash(a) == result_hash(b)
    # typed and exact: an int is not a float, and one ulp counts
    assert result_hash(a) != result_hash(a.assign(k=[1.0, 2.0, 3.0]))
    c = a.copy()
    c.loc[0, "v"] = 0.1 + 2**-56
    assert result_hash(a) != result_hash(c)


def test_next_tick_is_the_following_multiple_of_the_trigger_interval():
    from telemetry import TRIGGER_S, _next_tick

    assert _next_tick(0.0) == TRIGGER_S
    assert _next_tick(TRIGGER_S * 7 + 0.01) == TRIGGER_S * 8
    assert _next_tick(TRIGGER_S * 7) == TRIGGER_S * 8  # a tick now is not "next"
