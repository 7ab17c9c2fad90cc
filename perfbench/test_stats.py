"""Tests of the benchmark's own arithmetic on synthetic inputs.

    python3 -m pytest perfbench
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pytest

import run
import stats
from tracing import Tracer, event_log_layers


def _timed(per_query: dict[str, list[float]]) -> dict:
    samples = [x for v in per_query.values() for x in v]
    return {"pass_s": [3.0, 2.0], "samples": samples, "per_query": per_query}


def test_end_to_end_takes_the_best_pass_and_execution():
    res = {"timed": _timed({"a": [1.0, 3.0], "b": [4.0, 2.0], "c": [0.5, 0.5]})}
    values, extra = run.end_to_end(res, 30.0, run.RssSampler(0))
    assert values["setup_s"] == 30.0 and values["pass_s"] == 2.0
    assert values["query_geomean_s"] == pytest.approx((1.0 * 2.0 * 0.5) ** (1 / 3))
    # the medians and pooled percentiles stay in the record
    assert extra["pass_median_s"] == 2.5 and extra["query_median_s"]["b"] == 3.0
    assert extra["latency_p50_s"] == 1.5 and extra["latency_max_s"] == 4.0
    assert extra["latency_samples"] == 6


def test_failed_executions_give_an_incorrect_result_not_a_crash():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))["end_to_end"]
    # query b failed in every timed pass: no figure over all queries
    res = {"timed": _timed({"a": [1.0], "b": []}), "attempted": 4, "failed": 2}
    values, extra = run.end_to_end(res, 30.0, run.RssSampler(0))
    assert values["query_geomean_s"] is None
    assert extra["latency_max_s"] == 1.0
    line = run.result_line(res, values, spec)
    assert line["correct"] is False and line["failed"] == 2
    assert set(line["metrics"]) == {m["name"] for m in spec}
    # nothing succeeded
    res = {"timed": _timed({"a": [], "b": []}), "attempted": 4, "failed": 4}
    values, extra = run.end_to_end(res, 30.0, run.RssSampler(0))
    assert values["query_geomean_s"] is None and extra["latency_p50_s"] is None
    assert run.result_line(res, values, spec)["correct"] is False
    # a run with no failure and every value present is correct
    res = {"timed": _timed({"a": [1.0], "b": [2.0]}), "attempted": 2, "failed": 0}
    values, _ = run.end_to_end(res, 30.0, run.RssSampler(0))
    assert run.result_line(res, values, spec)["correct"] is True


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_failed_frac():
    assert stats.failed_frac(40, 0) == 0.0
    assert stats.failed_frac(40, 10) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.failed_frac(attempted, failed)


def test_self_time_subtracts_covered_union():
    # children overlap each other (1-4) and stick out of the span (9-12)
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == 6.0
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.self_time((0.0, 10.0), [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_tracer_self_times_and_counters():
    tr = Tracer()
    tr.enabled = True
    root = tr.open("query")
    child = tr.open("build")
    tr.close(child)
    tr.close(root)
    root["t0"], root["t1"], child["t0"], child["t1"] = 0.0, 5.0, 1.0, 3.0
    assert tr.self_times() == {"query": 3.0, "build": 2.0}
    assert child["parent"] == root["id"]
    tr.add("x", 2)
    tr.add("x")
    assert tr.counters["x"] == 3


def test_trend_and_spread():
    assert stats.trend([3.0, 2.0, 1.0]) == pytest.approx(-0.5)
    assert stats.trend([4.0]) == 0.0
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


def test_results_match_float_last_ulp():
    # Spark vs DuckDB sums of the same doubles in another order
    a = [("A", "F", 2828375807.434132, 7), ("N", "O", 2706323975.3561, 9)]
    b = [("N", "O", 2706323975.3560996, 9), ("A", "F", 2828375807.4341316, 7)]
    cols = ["flag", "status", "sum", "n"]
    assert stats.results_match(cols, a, cols, b) is None
    bad = [("A", "F", 2828375807.44, 7), ("N", "O", 2706323975.3561, 9)]
    assert stats.results_match(cols, a, cols, bad) is not None


def test_results_match_everything_else_exact():
    cols = ["k", "v"]
    assert stats.results_match(cols, [(1, "a")], cols, [(1, "A")]) is not None
    assert stats.results_match(cols, [(1, "a")], cols, [(2, "a")]) is not None
    assert stats.results_match(cols, [(1, "a")], cols, [(1, "a"), (1, "a")]) == "row count 1 vs 2"
    assert stats.results_match(cols, [(1, "a")], ["k", "w"], [(1, "a")]).startswith("columns")
    # column order and row order do not matter
    assert stats.results_match(["v", "k"], [("b", 2), ("a", 1)], cols, [(1, "a"), (2, "b")]) is None
    ts = dt.datetime(2024, 1, 1, 0, 0, 1)
    assert stats.results_match(["t", "x"], [(ts, None)], ["t", "x"], [(ts, None)]) is None
    assert stats.results_match(["x"], [(None,)], ["x"], [("None",)]) is not None


def test_results_match_nested_and_nan():
    cols = ["v"]
    assert stats.results_match(cols, [([1.0, 2.0],)], cols, [((1.0, 2.0 + 1e-15),)]) is None
    assert stats.results_match(cols, [([1.0, 2.0],)], cols, [([1.0, 2.1],)]) is not None
    assert stats.results_match(cols, [(math.nan,)], cols, [(float("nan"),)]) is None


def test_event_log_layers(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g:e1:exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {}},
    ]
    for sid in (0, 1, 2, 3):
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}})
    for sid, run_ms in ((0, 100), (0, 100), (0, 400), (1, 50), (2, 30), (3, 70)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 8}})
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    def layer_of(group, submitted_ms):
        if group:
            return group.split(":")[2]
        return "build" if 4000 <= submitted_ms <= 6000 else None

    out = event_log_layers(str(log), layer_of)
    assert set(out) == {"exec", "build"}
    ex = out["exec"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 2, 4)
    assert ex["task_run_s"] == pytest.approx(0.65)
    assert ex["task_cpu_s"] == pytest.approx(0.65)
    assert ex["input_bytes"] == 40 and ex["shuffle_read_bytes"] == 12
    assert ex["shuffle_write_bytes"] == 16 and ex["spill_bytes"] == 32
    assert ex["task_skew"] == pytest.approx(4.0)  # stage 0: 400 / median 100
    assert (out["build"]["jobs"], out["build"]["tasks"]) == (1, 1)
