"""The traced run's event-log parser and span arithmetic."""

from __future__ import annotations

import operator

import pytest
import spans


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("eventlog")
    data = str(tmp_path_factory.mktemp("data") / "t.parquet")
    builder = SparkSession.builder
    for k, v in spans.EVENT_LOG_CONF.items():
        builder = builder.config(k, v)
    spark = (
        builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.dir", "file://" + str(d))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.warehouse.dir", str(d.parent / "warehouse"))
        .getOrCreate()
    )
    try:
        spark.range(0, 100, 1, 3).write.parquet(data)
        sc = spark.sparkContext
        rec = spans.Recorder(spark)
        with rec.span("map", group=True) as s_map:
            sc.parallelize(range(100), 4).map(lambda x: x * 2).count()
        with rec.span("shuffle", group=True) as s_shuffle:
            sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
                operator.add, 2
            ).collect()
        with rec.span("scan", group=True) as s_scan:
            spark.read.parquet(data).filter("id > 10").collect()
        with rec.span("udf", group=True) as s_udf:
            # defined here so it is pickled by value for the workers
            double = F.pandas_udf(lambda s: s * 2, "long")
            spark.range(0, 100, 1, 2).select(double(F.col("id"))).collect()
    finally:
        spark.stop()
    log = spans.parse_event_log(spans.event_log_file(str(d)))
    return log, s_map, s_shuffle, s_scan, s_udf


def test_job_stage_task_counts_per_group(event_log):
    log, s_map, s_shuffle, _, _ = event_log
    jobs = log.jobs_of({s_map.id})
    assert len(jobs) == 1
    assert log.stage_count(jobs) == 1
    assert log.totals(jobs).tasks == 4

    jobs = log.jobs_of({s_shuffle.id})
    assert len(jobs) == 1
    assert log.stage_count(jobs) == 2
    t = log.totals(jobs)
    assert t.tasks == 4 + 2
    assert t.shuffle_write_bytes > 0 and t.shuffle_read_bytes > 0


def test_driver_sql_metrics_of_a_scan(event_log):
    log, _, _, s_scan, _ = event_log
    jobs = log.jobs_of({s_scan.id})
    execs = {j.execution for j in jobs if j.execution is not None}
    assert execs
    assert log.driver_metric(execs, "number of files read") == 3
    assert log.totals(jobs).input_records == 100


def test_python_worker_time_of_a_pandas_udf(event_log):
    log, *_, s_udf = event_log
    jobs = log.jobs_of({s_udf.id})
    assert log.totals(jobs).python_ms > 0
    assert log.totals(log.jobs_of({event_log[1].id})).python_ms == 0


def test_self_time_subtracts_merged_child_intervals():
    rec = spans.Recorder()
    root = spans.Span("s1", "root", 0.0, 10.0)
    kids = [
        spans.Span("s2", "a", 1.0, 3.0, parent="s1"),
        spans.Span("s3", "b", 2.0, 4.0, parent="s1"),   # overlaps a
        spans.Span("s4", "c", 9.0, 12.0, parent="s1"),  # runs past the parent
    ]
    rec.spans = [root, *kids]
    assert rec.self_time(root) == pytest.approx(10.0 - 3.0 - 1.0)
