"""The benchmark's own arithmetic on a small canned event log and span
list: event-log -> per-layer reduction, span self time, and the
percentile / sample-count rules.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import stats  # noqa: E402
from spans import SpanRecorder, self_time  # noqa: E402

EVENTS_DIR = "/data/events"


def span(i, name, parent, t0, t1, phase="measure", batch=1, **attrs):
    return {"id": i, "name": name, "parent": parent, "batch": batch,
            "phase": phase, "t0": t0, "t1": t1, "attrs": attrs}


SPANS = [
    span(0, "pipeline.apply", None, 100.0, 110.0, result={
        "strategy": "broadcast", "affected_buckets": 8,
        "n_renames": 3, "n_chained_renames": 1}),
    span(1, "merge", 0, 102.0, 109.0),
    span(2, "table.write_buckets", 1, 103.0, 108.0),
    span(3, "table.commit", 1, 108.5, 108.6, manifest_bytes=1000),
    span(4, "pipeline.apply", None, 120.0, 126.0, batch=2, result={
        "strategy": "union_agg", "affected_buckets": 16,
        "n_renames": 1, "n_chained_renames": 0}),
    span(5, "merge", 4, 121.0, 125.0, batch=2),
    span(6, "table.write_buckets", 5, 122.0, 124.0, batch=2),
    span(7, "table.commit", 5, 124.5, 124.6, batch=2, manifest_bytes=3000),
    span(8, "consumer.poll", None, 126.5, 127.0, batch=2),
    span(9, "pipeline.apply", None, 90.0, 95.0, phase="warmup", batch=0),
]


def job(jid, t0, t1, stages, ex):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int(t0 * 1000), "Stage IDs": stages,
         "Properties": {"spark.sql.execution.id": str(ex)}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int(t1 * 1000)},
    ]


def task(stage, run_ms, accs=(), cpu_ns=0, gc_ms=0, shuffle=0,
         shuffle_ns=0, out_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": a, "Name": "x", "Update": str(v), "Value": str(v),
             "Metadata": "sql"} for a, v in accs
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle,
                                      "Shuffle Write Time": shuffle_ns},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


def node(name, metrics, children=(), location=""):
    return {
        "nodeName": name, "simpleString": name,
        "metadata": {"Location": location} if location else {},
        "metrics": [{"name": n, "accumulatorId": a, "metricType": "sum"}
                    for a, n in metrics],
        "children": list(children),
    }


def sql_start(ex, t, plan):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": ex, "time": int(t * 1000), "sparkPlanInfo": plan}


def driver_acc(ex, updates):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
            "executionId": ex, "accumUpdates": updates}


EV_SCAN = f"InMemoryFileIndex(1 paths)[file:{EVENTS_DIR}/chunk-00000.parquet]"
LAKE_SCAN = "InMemoryFileIndex(3 paths)[file:/lake/data/v1/_bucket=0/a.parquet]"

EVENTS = [
    # batch 1: control aggregation issued by apply_batch itself
    sql_start(0, 100.5, node("HashAggregate", [], [
        node("Scan parquet ", [(10, "number of output rows"), (11, "scan time")],
             location=EV_SCAN)])),
    *job(0, 100.5, 101.5, [0], 0),
    task(0, 100, [(10, 150), (11, 20)], cpu_ns=50_000_000),
    task(0, 100, [(10, 150), (11, 20)], cpu_ns=50_000_000),
    # batch 1: the bucket write (decode + merge + encode run in here)
    sql_start(1, 103.5, node("Execute InsertIntoHadoopFsRelationCommand", [
        (20, "number of written files"), (21, "number of output rows")], [
        node("HashAggregate", [(25, "time in aggregation build")], [
            node("Sort", [(29, "sort time")]),
            node("ArrowEvalPython", [
                (22, "number of output rows"), (23, "time to run Python workers"),
                (24, "data sent to Python workers")], [
                node("Scan parquet ", [(26, "number of output rows"),
                                       (27, "scan time")], location=EV_SCAN)]),
            node("Scan parquet ", [(28, "number of output rows")],
                 location=LAKE_SCAN)])])),
    *job(1, 103.5, 107.5, [1, 2], 1),
    task(1, 1000, [(22, 250), (23, 100), (24, 1000), (25, 5), (26, 300),
                   (27, 10), (28, 50), (29, 4)], shuffle=500, shuffle_ns=2_000_000),
    task(1, 1000, [(22, 250), (23, 100), (24, 1000), (25, 5), (26, 300),
                   (27, 10), (28, 50)], shuffle=500, shuffle_ns=2_000_000),
    task(2, 2000, [(21, 40)], gc_ms=10, out_bytes=4000),
    driver_acc(1, [[20, 4]]),
    # batch 2
    sql_start(2, 120.5, node("Scan parquet ", [(30, "number of output rows"),
                                               (31, "scan time")], location=EV_SCAN)),
    *job(2, 120.5, 121.0, [3], 2),
    task(3, 200, [(30, 200), (31, 15)]),
    sql_start(3, 122.5, node("Execute InsertIntoHadoopFsRelationCommand", [
        (40, "number of written files"), (41, "number of output rows")], [
        node("ArrowEvalPython", [(42, "number of output rows")])])),
    *job(3, 122.5, 123.5, [4], 3),
    task(4, 500, [(41, 20), (42, 100)], out_bytes=1000),
    task(4, 500, [(41, 20), (42, 100)], out_bytes=1000),
    driver_acc(3, [[40, 6]]),
    # the consumer poll after batch 2
    sql_start(4, 126.6, node("Scan parquet ", [(50, "number of files read"),
                                               (51, "number of output rows")],
                             location=LAKE_SCAN)),
    *job(4, 126.6, 126.9, [5], 4),
    task(5, 100, [(51, 40)]),
    driver_acc(4, [[50, 3]]),
    # a warm-up job: outside the measured spans, never counted
    sql_start(5, 91.0, node("Scan parquet ", [(60, "number of output rows")],
                            location=EV_SCAN)),
    *job(5, 91.0, 92.0, [6], 5),
    task(6, 9999, [(60, 7777)]),
]


@pytest.fixture(scope="module")
def layers():
    log = eventlog.parse_events(json.dumps(e) for e in EVENTS)
    return eventlog.reduce_layers(
        log, SPANS, EVENTS_DIR,
        {"events": 1000, "distinct_upsert_keys": 70},
        bucket_count=16, polls=[{"rows": 40, "changed": 10}],
    )


EXPECTED = {
    "pipeline.batches": 2,
    "kafka_io.scan_s": (20 + 20 + 10 + 10 + 15) / 1000 / 2,
    "kafka_io.rows_scanned_per_event": (300 + 600 + 200) / 1000,
    "parsers.python_s": 0.200 / 2,
    "parsers.rows_to_python": (500 + 200) / 2,
    "parsers.bytes_to_python": 2000 / 2,
    "parsers.python_boot_s": 0.0,
    "parsers.useful_ratio": 70 / 700,
    "pipeline.apply_s": (10 + 6) / 2,
    "pipeline.self_s": ((10 - 7) + (6 - 4)) / 2,
    "pipeline.control_exec_s": (0.2 + 0.2) / 2,
    "pipeline.driver_gap_s": ((10 - 5) + (6 - 1.5)) / 2,
    "pipeline.jobs_per_batch": 2,
    "pipeline.rename_resolver_s": 0.0,
    "pipeline.renames": 2,
    "pipeline.chained_renames": 0.5,
    "skew.salt_for_s": 0.0,
    "skew.salted_batches": 0,
    "merge.self_s": ((7 - 5.1) + (4 - 2.1)) / 2,
    "merge.agg_s": (0.010 + 0.004) / 2,
    "merge.shuffle_bytes": 1000 / 2,
    "merge.shuffle_write_s": 0.004 / 2,
    "merge.spill_bytes": 0,
    "merge.strategy_count.broadcast": 1,
    "merge.strategy_count.union_agg": 1,
    "table.write_buckets_s": (5 + 2) / 2,
    "table.write_exec_s": (4.0 + 1.0) / 2,
    "table.bytes_written": 6000 / 2,
    "table.files_written": (4 + 6) / 2,
    "table.rows_rewritten_per_event": 80 / 1000,
    "table.affected_bucket_share": (8 / 16 + 16 / 16) / 2,
    "table.commit_s": 0.1,
    "table.manifest_bytes": 2000,
    "silver.apply_s": 0.0,
    "silver.rows": 0.0,
    "gold.update_s": 0.0,
    "consumer.poll_s": 0.5,
    "consumer.rows_delivered": 40,
    "consumer.files_read": 3,
    "consumer.useful_ratio": 0.25,
    "spark.executor_run_s": (200 + 2000 + 2000 + 200 + 1000 + 100) / 1000 / 2,
    "spark.executor_cpu_s": 0.1 / 2,
    "spark.gc_s": 0.010 / 2,
    "spark.tasks_per_batch": (2 + 2 + 1 + 1 + 2) / 2,
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_layer_reduction(layers, name):
    assert layers[name] == pytest.approx(EXPECTED[name], abs=1e-9)


def test_reduction_names_every_layer(layers):
    assert set(layers) == set(EXPECTED)


def test_benchmark_json_lists_every_layer_metric(layers):
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not beside the benchmark")
    with open(path) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert declared == set(layers)


def test_jobs_charged_to_innermost_open_span():
    log = eventlog.parse_events(json.dumps(e) for e in EVENTS)
    att = eventlog.attribute(log, SPANS)
    assert att.jobs[0] == [0] and att.jobs[2] == [1]
    assert att.jobs[4] == [2] and att.jobs[6] == [3]
    assert att.jobs[8] == [4] and att.jobs[9] == [5]


def test_self_time_subtracts_union_of_children():
    spans = [
        span(0, "a", None, 0.0, 10.0),
        span(1, "b", 0, 1.0, 3.0),
        span(2, "c", 0, 2.0, 5.0),    # overlaps b: covered [1, 5]
        span(3, "d", 0, 7.0, 8.0),
        span(4, "e", 3, 7.2, 7.8),    # grandchild: already inside d
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 1)
    assert self_time(spans[3], spans) == pytest.approx(1.0 - 0.6)
    assert self_time(spans[4], spans) == pytest.approx(0.6)


def test_self_time_clips_children_to_parent():
    spans = [span(0, "a", None, 0.0, 4.0), span(1, "b", 0, 3.0, 6.0)]
    assert self_time(spans[0], spans) == pytest.approx(3.0)


def test_recorder_nests_and_inherits_batch():
    rec = SpanRecorder()
    rec.phase, rec.batch = "measure", 7
    outer = rec.open("pipeline.apply", batch=3)
    inner = rec.open("merge")
    rec.close(inner)
    rec.close(outer)
    top = rec.open("consumer.poll")
    rec.close(top)
    got = rec.to_json()
    assert [s["parent"] for s in got] == [None, 0, None]
    assert [s["batch"] for s in got] == [3, 3, 7]
    assert all(s["phase"] == "measure" for s in got)
    assert got[0]["t0"] <= got[1]["t0"] <= got[1]["t1"] <= got[0]["t1"]


def test_interval_union():
    assert stats.interval_union([(0, 2), (1, 3), (5, 6), (6, 7)]) == 5
    assert stats.interval_union([]) == 0
    assert stats.clipped_union([(0, 10)], 2, 4) == 2
    assert stats.clipped_union([(0, 1), (9, 12)], 2, 8) == 0


@pytest.mark.parametrize("n,expected", [
    (0, []), (1, [50]), (99, [50]), (100, [50, 90]), (999, [50, 90]),
    (1000, [50, 90, 99]), (10_000, [50, 90, 99, 99.9]),
])
def test_reportable_percentiles(n, expected):
    assert stats.reportable_percentiles(n) == expected


def test_timing_summary_reports_p90_only_with_ten_beyond():
    assert stats.timing_summary([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    vals = [float(i) for i in range(1, 101)]
    out = stats.timing_summary(vals)
    assert out["n"] == 100 and out["p50"] == 50.5 and out["p90"] == 90.0
    assert "p99" not in out
    # exactly ten samples lie beyond the reported p90
    assert sum(v > out["p90"] for v in vals) == 10


def test_percentile_is_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 12.0, 11.0, 9.0, 30.0, 10.5, 11.5, 10.2, 9.8, 10.1]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert stats.iqr_share([1.0]) is None
