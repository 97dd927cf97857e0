"""Structured Streaming path tests — batch-equivalence via AvailableNow
over static input (SURVEY.md §7.3c strategy)."""

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table
from data_pipeline_for_real_time_retail_analytics_spark.streaming import (
    dedup_stream,
    file_stream,
    run_available_now,
    sessionize,
    validated_foreach_batch,
    windowed_aggregate,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events table as a streaming-source directory (two files,
    simulating successive arrivals) with µs timestamps."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(out)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(out)
    return out


def _ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp(f"ckpt_{uuid.uuid4().hex[:8]}"))


def test_windowed_agg_batch_equivalence(spark, events_dir, tmp_path_factory):
    stream = file_stream(spark, events_dir)
    agg = windowed_aggregate(stream, window="1 hour", group_extra=["event_type"])
    q = run_available_now(
        agg, _ckpt(tmp_path_factory), queryName="win_agg", output_mode="complete"
    )
    got = spark.sql("SELECT * FROM win_agg").collect()

    batch = windowed_aggregate(
        spark.read.parquet(events_dir), window="1 hour", group_extra=["event_type"]
    ).collect()

    key = lambda r: (r["window_start"], r["event_type"])
    got_map = {key(r): (r["n_events"], r["sum_value"]) for r in got}
    batch_map = {key(r): (r["n_events"], r["sum_value"]) for r in batch}
    assert got_map == batch_map
    q.stop()


def test_dedup_stream_suppresses_duplicates(spark, events_dir, tmp_path_factory):
    # duplicate the input by unioning it with itself via a second write
    dup_dir = str(tmp_path_factory.mktemp("dup_events"))
    ev = spark.read.parquet(events_dir)
    ev.write.mode("append").parquet(dup_dir)
    ev.write.mode("append").parquet(dup_dir)
    assert spark.read.parquet(dup_dir).count() == 2 * ev.count()

    stream = file_stream(spark, dup_dir)
    deduped = dedup_stream(stream, ["event_id"], delay="10 minutes")
    q = run_available_now(deduped, _ckpt(tmp_path_factory), queryName="dedup_out")
    out = spark.sql("SELECT * FROM dedup_out")
    assert out.count() == out.select("event_id").distinct().count()
    q.stop()


def test_validated_foreach_batch_sink(spark, events_dir, tmp_path_factory):
    sink = str(tmp_path_factory.mktemp("staging_sink"))
    stream = file_stream(spark, events_dir)
    body = validated_foreach_batch(
        lambda df: df.where(F.col("value") >= 100), sink
    )
    q = run_available_now(stream, _ckpt(tmp_path_factory), foreach_batch=body)
    written = spark.read.parquet(sink)
    expected = spark.read.parquet(events_dir).where(F.col("value") >= 100)
    assert written.count() == expected.count()
    assert written.where(F.col("value") < 100).count() == 0
    q.stop()


def test_validated_foreach_batch_observed_stats(spark, events_dir, tmp_path_factory):
    """E4 per-batch extraction stats ride the write pass via Observation
    — no extra count jobs — and reconcile exactly with what was read
    and written."""
    sink = str(tmp_path_factory.mktemp("obs_sink"))
    stats: list[dict] = []
    stream = file_stream(spark, events_dir)
    body = validated_foreach_batch(
        lambda df: df.where(F.col("value") >= 100), sink, stats=stats
    )
    q = run_available_now(stream, _ckpt(tmp_path_factory), foreach_batch=body)
    q.stop()
    src = spark.read.parquet(events_dir)
    assert stats, "no batch stats collected"
    assert sum(s["rows_in"] for s in stats) == src.count()
    n_valid = src.where(F.col("value") >= 100).count()
    assert sum(s["rows_valid"] for s in stats) == n_valid
    assert spark.read.parquet(sink).count() == n_valid
    assert all(s["rows_valid"] <= s["rows_in"] for s in stats)


def test_sessionize_runs_and_conserves_events(spark, events_dir, tmp_path_factory):
    stream = file_stream(spark, events_dir)
    sess = sessionize(stream, gap="30 minutes")
    q = run_available_now(
        sess, _ckpt(tmp_path_factory), queryName="sessions", output_mode="complete"
    )
    total = spark.sql("SELECT SUM(n_events) AS n FROM sessions").first()["n"]
    assert total == spark.read.parquet(events_dir).count()
    q.stop()


def test_late_events_dropped(spark, tmp_path_factory):
    """Rows later than the watermark delay are dropped — matches the
    reference's ts <= watermark silent drop (change_detection.py:184-187)."""
    src = str(tmp_path_factory.mktemp("late_src"))
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 12:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 08:00:00", 1, "click", 1.0, "{}")],  # 4h late
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sink = str(tmp_path_factory.mktemp("late_sink"))
    ckpt = _ckpt(tmp_path_factory)

    def drain():
        agg = windowed_aggregate(
            file_stream(spark, src), window="1 hour", delay="10 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    # arrival 1: on-time rows drain first, advancing the watermark to 11:50
    on_time.coalesce(1).write.mode("append").parquet(src)
    drain()
    # arrival 2: the 08:00 row is now 4h behind the watermark → dropped
    late.coalesce(1).write.mode("append").parquet(src)
    drain()

    rows = {r["window_start"].hour: r["n_events"]
            for r in spark.read.parquet(sink).collect()}
    # the 08:00 late row must not appear; 10:00 window finalized and emitted
    assert 8 not in rows
    assert rows.get(10) == 1


def test_streamq_repeated_drive_leaves_tmp_flat(spark, sf_dir):
    """Round-2 ask #5: re-driving the streaming correctness queries must
    not accrete staged-parquet or checkpoint dirs in /tmp — staging is
    shared per (app, sf_dir) and checkpoints are deleted after drain."""
    import glob

    from data_pipeline_for_real_time_retail_analytics_spark.plans import streamq

    def dirs(pattern):
        return set(glob.glob(tempfile.gettempdir() + "/" + pattern))

    first = streamq.q_stream_events_hourly(spark, sf_dir).count()
    staged = dirs("spark_graft_stage_events_*")
    scratch = dirs("streamq_*")
    second = streamq.q_stream_events_hourly(spark, sf_dir).count()
    assert second == first > 0
    assert len(staged) >= 1
    assert dirs("spark_graft_stage_events_*") == staged
    assert dirs("streamq_*") == scratch


def test_drain_overlapped_stops_the_stream_when_the_batch_fails(spark, events_dir):
    """A failing overlapped batch action must stop the stream it raced,
    not leave it running over a deleted checkpoint dir."""
    from pyspark.errors import PySparkException

    from data_pipeline_for_real_time_retail_analytics_spark.plans.streamq import (
        _drain_overlapped,
    )

    plan = (
        file_stream(spark, events_dir, max_files_per_trigger=1)
        .groupBy("event_type")
        .count()
    )
    failing = spark.range(1).select(F.raise_error(F.lit("batch side failed")))
    with pytest.raises(PySparkException, match="batch side failed"):
        _drain_overlapped(spark, plan, "drain_overlapped_failure", failing)
    assert spark.streams.active == []


@pytest.mark.parametrize("drive", ["scope", "drain", "drain_overlapped", "streamq3"])
def test_failed_drive_restores_partitions_and_removes_scratch(
    spark, sf_dir, events_dir, tmp_path, monkeypatch, drive
):
    """Every stream drive runs in one scratch scope: when the drive
    fails, the session's shuffle partitions are restored and the
    checkpoint (and any staging) directory is gone."""
    from pyspark.errors import PySparkException

    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        streamq,
        streamq3,
    )

    def failing(stream):
        return stream.select(
            F.raise_error(F.lit("drive failed")).cast("string").alias("x")
        )

    def run():
        plan = failing(file_stream(spark, events_dir))
        if drive == "scope":
            with streamq._stream_scope(spark):
                spark.range(1).select(F.raise_error(F.lit("drive failed"))).collect()
        elif drive == "drain":
            streamq._drain(spark, plan, "drive_failure", output_mode="append")
        elif drive == "drain_overlapped":
            streamq._drain_overlapped(
                spark, plan, "drive_failure", spark.range(1), output_mode="append"
            )
        else:
            monkeypatch.setattr(
                streamq3, "interval_join", lambda left, right, **kw: failing(left)
            )
            streamq3.q_stream_click_purchases_outer(spark, sf_dir)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        with pytest.raises(PySparkException, match="drive failed"):
            run()
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)
    assert os.listdir(tmp_path) == []
    assert spark.streams.active == []
