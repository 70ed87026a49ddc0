"""Tests for the harness's pure functions (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt

import pytest

from perfbench import digest, layers, stats, trace
from perfbench.workloads import ORACLE_MODULI, sample_ids

# ------------------------------------------------------------------ digest


def test_digest_ignores_row_and_column_order():
    a = digest.digest(["b", "a"], [(2, "x"), (1, "y")])
    b = digest.digest(["a", "b"], [("y", 1), ("x", 2)])
    assert a == b


def test_digest_rounds_floats_to_nine_decimals():
    assert digest.digest(["v"], [(0.1 + 0.2,)]) == digest.digest(["v"], [(0.3,)])
    assert digest.digest(["v"], [(0.3,)]) != digest.digest(["v"], [(0.3000001,)])


def test_digest_distinguishes_multiplicity_and_names():
    assert digest.digest(["a"], [(1,), (1,)]) != digest.digest(["a"], [(1,)])
    assert digest.digest(["a"], [(1,)]) != digest.digest(["b"], [(1,)])


def test_digest_normalises_nan_and_timestamps():
    ts = dt.datetime(2025, 1, 1, 0, 0, 1)
    assert digest.digest(["t"], [(ts,)]) == digest.digest(["t"], [("2025-01-01T00:00:01",)])
    assert digest.digest(["v"], [(float("nan"),)]) == digest.digest(["v"], [("NaN",)])


def test_digest_sorts_mixed_null_and_number_columns():
    # no TypeError from ordering None against numbers
    a = digest.digest(["v"], [(None,), (2.0,), (float("nan"),), (1,)])
    assert a == digest.digest(["v"], [(1,), (float("nan"),), (None,), (2.0,)])


# ------------------------------------------------------------------- stats


def test_median_and_nearest_rank_percentile():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.median(vals) == 3.0
    assert stats.percentile(vals, 50) == 3.0
    assert stats.percentile(vals, 100) == 5.0
    assert stats.percentile(list(range(1, 101)), 90) == 90


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "n,expected",
    [(3, None), (39, None), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


def test_summarize_reports_count_and_only_supported_percentiles():
    assert stats.summarize([1.0, 2.0, 3.0]) == {"median": 2.0, "n": 3}
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p90"] == 90.0 and s["median"] == 50.5


# ------------------------------------------------------------------- trace


def _task(stage, attempt=0, reason="Success", run_ms=10, shuffle=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Fetch Wait Time": 1},
        },
    }


def _props(span):
    return {} if span is None else {trace.SPAN_PROPERTY: str(span)}


def _stage(stage, span, attempt=0):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": attempt},
        "Properties": _props(span),
    }


def test_attribute_keys_tasks_by_their_stage_span():
    events = [
        {"Event": "SparkListenerJobStart", "Properties": _props(0)},
        _stage(1, 0),
        {"Event": "SparkListenerJobStart", "Properties": _props(3)},
        _stage(2, 3),
        _task(1, shuffle=5),
        _task(2, accs=[("data sent to Python workers", 7), ("number of output rows", 99)]),
        _task(2, reason="ExceptionFailure"),
        _stage(2, 3, attempt=1),
        _task(2, attempt=1),
    ]
    got = trace.attribute(events)
    assert got[0]["jobs"] == 1 and got[0]["stages"] == 1 and got[0]["tasks"] == 1
    assert got[0]["shuffle_write_bytes"] == 5 and got[0]["fetch_wait_ms"] == 1
    assert got[3]["tasks"] == 3 and got[3]["failed_tasks"] == 1 and got[3]["stages"] == 2
    assert got[3]["data sent to Python workers"] == 7
    assert "number of output rows" not in got[3]


def test_attribute_scan_bytes_by_span_and_table():
    scan = {
        "nodeName": "Scan parquet ",
        "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/w/pages8000_seed1]"},
        "metrics": [{"name": "size of files read", "accumulatorId": 7}],
        "children": [],
    }
    root = {"nodeName": "Project", "metrics": [{"name": "x", "accumulatorId": 8}], "children": [scan]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 4,
         "sparkPlanInfo": root},
        # file sizes are posted while planning, before the job that names the span
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 4,
         "accumUpdates": [[7, 1000], [8, 5]]},
        {"Event": "SparkListenerJobStart", "Properties": {trace.SPAN_PROPERTY: "2", "spark.sql.execution.id": "4"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 9,
         "accumUpdates": [[7, 50]]},
    ]
    got = trace.attribute(events)
    assert got[2]["scan_bytes"] == {"InMemoryFileIndex(1 paths)[file:/w/pages8000_seed1]": 1000}
    assert trace.total(got, [2, 2])["scan_bytes"] == {"InMemoryFileIndex(1 paths)[file:/w/pages8000_seed1]": 2000}


def test_attribute_drops_work_outside_any_span():
    events = [_stage(1, None), _task(1), {"Event": "SparkListenerJobStart", "Properties": {}}]
    assert trace.attribute(events) == {}


def test_tracer_nests_spans_and_sums_children():
    t = trace.Tracer()
    with t.span("pass"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("pass", None), ("a", 0), ("b", 0)]
    assert all(s["end"] >= s["start"] for s in t.spans)
    per_span = {1: {"jobs": 2}, 2: {"jobs": 3}}
    assert trace.total(per_span, [1, 2])["jobs"] == 5
    assert layers.per_pass(t, {1: trace._empty() | {"jobs": 2}, 2: trace._empty() | {"jobs": 3}}, {"a", "b"}, "jobs") == 5


def test_self_time_subtracts_the_callee():
    t = trace.Tracer()
    t.spans = [
        {"id": 0, "name": "outer", "parent": None, "start": 0.0, "end": 3.0},
        {"id": 1, "name": "inner", "parent": None, "start": 0.0, "end": 1.0},
    ]
    assert layers.self_time(t, "outer", "inner") == 2.0
    assert layers.self_time(t, "inner", None) == 1.0


# -------------------------------------------------------------- workloads


def test_oracle_sample_covers_every_fixture_modulus():
    ids = sample_ids(8000, seed=3)
    assert ids == sample_ids(8000, seed=3)
    for m in ORACLE_MODULI:
        assert any(i % m == 0 and i > 0 for i in ids)
    assert len(ids) == len(set(ids)) and all(0 <= i < 8000 for i in ids)


# --------------------------------------------------------------------- rss


def test_engine_pids_keeps_the_driver_jvm_and_pyspark_workers():
    from perfbench.rss import engine_pids

    procs = {
        10: (1, "python3 perfbench/run.py"),
        11: (10, "java -cp ... org.apache.spark.deploy.SparkSubmit pyspark-shell"),
        12: (11, "java -cp ... org.apache.spark.deploy.SparkSubmit pyspark-shell"),  # spawned, not exec'd yet
        13: (11, "python3 -m pyspark.daemon pyspark.worker"),
        14: (13, "python3 -m pyspark.daemon pyspark.worker"),
        15: (10, "bash spark-submit"),
        16: (15, "java org.apache.spark.launcher.Main"),
        20: (1, "java unrelated"),
    }
    assert sorted(engine_pids(10, procs)) == [11, 13, 14]
