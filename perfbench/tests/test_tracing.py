"""Span self time, and the event-log accounting over a log generated
here from tiny queries."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import tracing  # noqa: E402


def test_union_length_counts_overlap_once():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 1), (2, 3)]) == 2
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_clipped_to_parent():
    assert tracing.self_time(0, 10, []) == 10
    assert tracing.self_time(0, 10, [(1, 3), (2, 4)]) == 7
    assert tracing.self_time(0, 10, [(-5, 2), (9, 20)]) == 7
    assert tracing.self_time(0, 10, [(11, 12)]) == 10


def test_spans_nest_and_disable():
    spans = tracing.Spans()
    with spans.span("outer") as outer:
        with spans.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert spans.durations("inner") == [inner["end"] - inner["start"]]
    off = tracing.Spans(enabled=False)
    with off.span("x") as row:
        assert row is None
    assert off.rows == []


def _site_jobs(df):
    """One job at SITE_COUNT, one at SITE_WRITE (the lines below)."""
    df.count()
    df.write.format("noop").mode("overwrite").save()


SITE_COUNT = _site_jobs.__code__.co_firstlineno + 2
SITE_WRITE = SITE_COUNT + 1


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    """Two tagged operations and one untagged job in one application:
    ``shuffle`` (a grouped count over 4 input partitions), ``python``
    (a mapInPandas pass)."""
    from pyspark.sql import SparkSession

    logs = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(logs))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    try:
        df = spark.range(0, 20_000, numPartitions=4)
        sc.setLocalProperty(tracing.OP_PROPERTY, "shuffle")
        df.groupBy((df.id % 10).alias("k")).count().collect()
        sc.setLocalProperty(tracing.OP_PROPERTY, "python")
        df.mapInPandas(lambda it: (p.assign(id=p.id + 1) for p in it), "id long").collect()
        sc.setLocalProperty(tracing.OP_PROPERTY, "sites")
        with tracing.call_sites(sc, __file__):
            _site_jobs(df)
        sc.setLocalProperty(tracing.OP_PROPERTY, None)
        df.count()
        app = sc.applicationId
    finally:
        spark.stop()
    return tracing.EventLog(tracing.event_log_path(logs, app))


def test_tasks_and_shuffle_attributed_to_their_operation(event_log):
    shuffle = event_log.op_totals(["shuffle"])
    # 4 map tasks + 3 reduce tasks
    assert shuffle["exec.tasks"] == 7
    assert shuffle["shuffle.write_bytes"] > 0
    assert shuffle["shuffle.read_bytes"] == shuffle["shuffle.write_bytes"]
    assert shuffle["exec.run_ms"] >= 0 and shuffle["exec.cpu_ms"] > 0
    assert event_log.job_intervals("shuffle")
    assert 1.0 <= event_log.shuffle_skew({"shuffle"}) <= 3.0


def test_python_metrics_only_on_the_python_operation(event_log):
    py = event_log.op_totals(["python"])
    assert py["exec.tasks"] == 4
    assert py["python.bytes_out"] > 0 and py["python.bytes_in"] > 0
    assert py["python.run_ms"] > 0
    shuffle = event_log.op_totals(["shuffle"])
    assert shuffle.get("python.bytes_out", 0) == 0
    assert event_log.op_totals(["missing"]) == {}


def test_untagged_jobs_are_not_counted(event_log):
    total = sum(t["exec.tasks"] for t in event_log.totals.values()
                if t is not event_log.totals.get("sites"))
    assert total == 7 + 4


def test_jobs_grouped_by_call_site(event_log):
    sites = event_log.site_intervals("sites")
    assert set(sites) == {SITE_COUNT, SITE_WRITE}
    # outside call_sites no job carries a site
    assert set(event_log.site_intervals("shuffle")) == {None}


def test_progress_metrics_medians_and_state():
    batches = [
        {"numInputRows": 10, "durationMs": {"addBatch": 100, "walCommit": 5},
         "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 3, "memoryUsedBytes": 50,
                             "numRowsDroppedByWatermark": 1}]},
        {"numInputRows": 30, "durationMs": {"addBatch": 300, "walCommit": 7},
         "stateOperators": [{"commitTimeMs": 9, "numRowsTotal": 4, "memoryUsedBytes": 80,
                             "numRowsDroppedByWatermark": 0}]},
        {"numInputRows": 0, "durationMs": {"addBatch": 1}, "stateOperators": []},
    ]
    m = tracing.progress_metrics(batches)
    assert m["batches"] == 2 and m["rows_per_batch"] == 20
    assert m["add_batch_ms"] == 200 and m["wal_commit_ms"] == 6
    assert m["state.commit_ms"] == 8 and m["state.memory_bytes"] == 80
    assert m["state.rows_dropped_by_watermark"] == 1
    assert m["state.rows_total"] == 0  # the last record had no state operator
