"""Checks of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs, run, stats, tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def test_highest_percentile_leaves_ten_samples_beyond():
    assert stats.highest_percentile(9) is None
    assert stats.highest_percentile(19) is None
    assert stats.highest_percentile(20) == 50
    assert stats.highest_percentile(40) == 75
    assert stats.highest_percentile(99) == 75
    assert stats.highest_percentile(100) == 90
    assert stats.highest_percentile(1000) == 99
    assert stats.highest_percentile(10000) == 99.9


def test_summarize_reports_median_and_allowed_percentile():
    xs = [float(i) for i in range(1, 101)]
    s = stats.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert stats.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 10.0)


def _task_end(stage, run_ms, **m):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 5,
            "Input Metrics": {"Bytes Read": m.get("inb", 0), "Records Read": m.get("inr", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": m.get("srd", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("swr", 0)},
            "Output Metrics": {"Bytes Written": m.get("out", 0)},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": m.get("spill", 0),
        },
    }


def _job(job, group, execution, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group, "spark.sql.execution.id": str(execution)}}


# one build_one_batch call: a sample execution (0), the segment write (1:
# map stage 1, reduce stage 2 which writes output, stage 1 listed again by
# the second job as skipped), and a read-back (2); then a query in another
# group whose scan stage feeds a kernel stage.
CANNED_LOG = [
    _job(0, "g-build", 0, [0]),
    _task_end(0, 400, inr=100, inb=1000),
    _job(1, "g-build", 1, [1]),
    _task_end(1, 300, inr=50, inb=700, swr=2000),
    _task_end(1, 100, inr=50, inb=700, swr=1000),
    _job(2, "g-build", 1, [1, 2]),
    _task_end(2, 200, srd=3000, out=5000),
    _task_end(2, 600, srd=3000, out=5000, spill=64),
    _job(3, "g-build", 2, [3]),
    _task_end(3, 50, inr=10),
    _job(4, "g-query", 3, [4]),
    _task_end(4, 120, inr=30, inb=300, swr=90),
    _job(5, "g-query", 3, [4, 5]),
    _task_end(5, 80, srd=90),
    {"Event": "SparkListenerExecutorMetricsUpdate", "Executor Metrics Updated": [
        {"Executor Metrics": {"JVMHeapMemory": 2**20, "ProcessTreePythonRSSMemory": 7,
                              "TotalGCTime": 40}}]},
    {"Event": "SparkListenerStageExecutorMetrics",
     "Executor Metrics": {"JVMHeapMemory": 3 * 2**20, "ProcessTreePythonRSSMemory": 5,
                          "TotalGCTime": 30}},
]


def test_event_log_stage_aggregation(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in CANNED_LOG))
    (app / "appstatus_local-1").write_text("")
    events = tracing.read_event_log(str(tmp_path))
    assert len(events) == len(CANNED_LOG)

    table = tracing.stage_table(events)
    assert table[1]["job"] == 1  # first job to list the stage owns it
    assert table[1]["shuffle_write"] == 3000
    assert table[2]["spill"] == 64
    assert table[2]["gc_s"] == pytest.approx(0.01)
    groups = tracing.stages_by_group(table)
    assert sorted(groups) == ["g-build", "g-query"]

    roles = tracing.build_roles(groups["g-build"])
    assert [s["stage"] for s in roles["sample"]] == [0]
    assert [s["stage"] for s in roles["map"]] == [1]
    assert [s["stage"] for s in roles["reduce"]] == [2]
    assert [s["stage"] for s in roles["other"]] == [3]
    assert tracing.task_seconds(roles["map"]) == pytest.approx(0.4)
    assert tracing.skew(roles["reduce"]) == pytest.approx(600 / 400)

    q = tracing.query_roles(groups["g-query"])
    assert [s["stage"] for s in q["produce"]] == [4]
    assert [s["stage"] for s in q["consume"]] == [5]

    peaks = tracing.executor_peaks(events)
    assert peaks == {"JVMHeapMemory": 3 * 2**20, "ProcessTreePythonRSSMemory": 7,
                     "TotalGCTime": 40}


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "name": "segments.build_index", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "segments.build_one_batch", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "segments.finalize_index", "parent": 0, "start": 5.0, "end": 7.0},
        {"id": 3, "name": "rank.collect", "parent": None, "start": 11.0, "end": 12.5},
    ]
    assert tracing.self_times(spans) == {"segments": pytest.approx(10.0), "rank": 1.5}


def test_corpus_rows_are_a_function_of_seed_and_row():
    a = inputs.corpus_rows(5, 0, 40)
    assert a.equals(inputs.corpus_rows(5, 0, 40))
    assert a.iloc[10:20].reset_index(drop=True).equals(inputs.corpus_rows(5, 10, 20))
    assert not a.equals(inputs.corpus_rows(6, 0, 40))
    # deltas continue the row numbering, so paths (and docIds) are disjoint
    d = inputs.corpus_rows(5, 40, 45)
    assert not set(d.path) & set(a.path)
    assert list(d.path.str.extract(r"file_(\d+)\.")[0].astype(int)) == list(range(40, 45))


def test_queries_are_a_function_of_seed_and_stream():
    pools = [[f"r{i}" for i in range(50)], [f"m{i}" for i in range(50)], [f"h{i}" for i in range(50)]]
    q = inputs.make_queries(pools, 30, seed=3, stream=1)
    assert q == inputs.make_queries(pools, 30, seed=3, stream=1)
    assert q != inputs.make_queries(pools, 30, seed=4, stream=1)
    assert q != inputs.make_queries(pools, 30, seed=3, stream=2)
    assert [len(x) for x in q[:6]] == [1, 2, 3, 1, 2, 3]
    assert q[1][0][0] == "m" and q[1][1][0] == "h"  # each term from the next tercile


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
