"""Tests for applyInPandasWithState operators: TTL-suppression dedup
(reference ChangeEventDeduplicator semantics) and running per-key totals.
Checked against a pure-Python simulation of the reference behavior."""

import uuid

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.streaming import (
    file_stream,
    run_available_now,
)
from data_pipeline_for_real_time_retail_analytics_spark.streaming.ingest import EVENTS_SCHEMA
from data_pipeline_for_real_time_retail_analytics_spark.streaming.stateful import (
    running_totals_stream,
    ttl_dedup_stream,
)

ROWS = [
    # user 1, clicks 20 min apart: with a 60-min TTL only the first and
    # the one >= 60 min after it survive
    (1, "2024-01-01 10:00:00", 1, "click", 5.0, "{}"),
    (2, "2024-01-01 10:20:00", 1, "click", 6.0, "{}"),
    (3, "2024-01-01 10:40:00", 1, "click", 7.0, "{}"),
    (4, "2024-01-01 11:00:00", 1, "click", 8.0, "{}"),  # exactly TTL -> emit
    (5, "2024-01-01 11:30:00", 1, "click", 9.0, "{}"),
    # different key (event_type) is independent
    (6, "2024-01-01 10:05:00", 1, "purchase", 50.0, "{}"),
    # different user is independent
    (7, "2024-01-01 10:10:00", 2, "click", 1.0, "{}"),
]


def _simulate_ttl(rows, ttl_s=3600):
    kept, last = [], {}
    for r in sorted(rows, key=lambda r: r[1]):
        key = (r[2], r[3])
        import datetime as dt

        ts = dt.datetime.fromisoformat(r[1]).timestamp()
        if key not in last or ts - last[key] >= ttl_s:
            kept.append(r[0])
            last[key] = ts
    return sorted(kept)


@pytest.fixture(scope="module")
def stateful_src(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stateful_src"))
    df = spark.createDataFrame(
        ROWS,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("append").parquet(src)
    return src


def _ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp(f"ckpt_{uuid.uuid4().hex[:8]}"))


def test_ttl_dedup_matches_reference_semantics(spark, stateful_src, tmp_path_factory):
    stream = file_stream(spark, stateful_src, schema=EVENTS_SCHEMA)
    deduped = ttl_dedup_stream(
        stream, ["user_id", "event_type"], ttl_minutes=60, watermark_delay="10 minutes"
    )
    q = run_available_now(deduped, _ckpt(tmp_path_factory), queryName="ttl_out")
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM ttl_out").collect()
    )
    assert got == _simulate_ttl(ROWS)  # [1, 4, 6, 7]
    q.stop()


def test_ttl_dedup_state_survives_across_batches(spark, tmp_path_factory):
    """Split the same rows over two micro-batches (maxFilesPerTrigger=1):
    suppression state set by batch 1 must still drop batch-2 rows."""
    src = str(tmp_path_factory.mktemp("two_batches"))
    early = [r for r in ROWS if r[1] < "2024-01-01 10:30:00"]
    late = [r for r in ROWS if r[1] >= "2024-01-01 10:30:00"]
    for chunk in (early, late):
        spark.createDataFrame(
            chunk,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = file_stream(spark, src, schema=EVENTS_SCHEMA, max_files_per_trigger=1)
    deduped = ttl_dedup_stream(
        stream, ["user_id", "event_type"], ttl_minutes=60, watermark_delay="10 minutes"
    )
    q = run_available_now(deduped, _ckpt(tmp_path_factory), queryName="ttl_out2")
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM ttl_out2").collect()
    )
    assert got == _simulate_ttl(ROWS)
    q.stop()


def test_running_totals(spark, stateful_src, tmp_path_factory):
    stream = file_stream(spark, stateful_src, schema=EVENTS_SCHEMA)
    totals = running_totals_stream(stream, ["user_id"])
    q = run_available_now(
        totals, _ckpt(tmp_path_factory), queryName="totals_out", output_mode="update"
    )
    got = {
        r["user_id"]: (r["lifetime_events"], r["lifetime_value"])
        for r in spark.sql("SELECT * FROM totals_out").collect()
    }
    assert got[1] == (6, 85.0)
    assert got[2] == (1, 1.0)
    q.stop()


def test_streaming_merge_sink_matches_batch_apply(spark, tmp_path_factory):
    """Stream a changelog in two micro-batches through the merge sink;
    final state must equal a single batch apply_changelog over all rows."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_pipeline_for_real_time_retail_analytics_spark.operators.transform import (
        apply_changelog,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.streaming.upsert import (
        streaming_merge_sink,
    )

    schema = "k long, ts timestamp, seq long, op string, v double"
    t = lambda s: dt.datetime.fromisoformat(s)
    batch1 = [
        (1, t("2024-01-01 10:00:00"), 1, "insert", 10.0),
        (2, t("2024-01-01 10:01:00"), 2, "insert", 20.0),
    ]
    batch2 = [
        (1, t("2024-01-01 11:00:00"), 3, "update", 11.0),
        (2, t("2024-01-01 11:01:00"), 4, "delete", None),
        (3, t("2024-01-01 11:02:00"), 5, "insert", 30.0),
    ]
    src = str(tmp_path_factory.mktemp("merge_src"))
    for chunk in (batch1, batch2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path_factory.mktemp("merge_target")) + "/state"
    stream = (
        spark.readStream.schema(
            T.StructType.fromDDL(schema)
        ).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_merge_sink(spark, target, ["k"], "ts", "op", tiebreak_col="seq")
        )
        .option("checkpointLocation", str(tmp_path_factory.mktemp("merge_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}

    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    base = all_rows.select("k", "v").limit(0)
    want = {r["k"]: r["v"] for r in apply_changelog(
        base, all_rows, ["k"], "ts", "op", tiebreak_col="seq"
    ).collect()}
    assert got == want == {1: 11.0, 3: 30.0}


def test_merge_sink_recovers_from_crash_between_renames(spark, tmp_path_factory):
    """Simulate a crash after rename(target, old) but before
    rename(tmp, target): the next batch must restore the pre-swap state
    instead of silently rebuilding from an empty base."""
    import datetime as dt
    import os

    from data_pipeline_for_real_time_retail_analytics_spark.streaming.upsert import (
        recover_swap,
        streaming_merge_sink,
    )

    schema = "k long, ts timestamp, seq long, op string, v double"
    t = lambda s: dt.datetime.fromisoformat(s)
    target = str(tmp_path_factory.mktemp("crash_target")) + "/state"
    sink = streaming_merge_sink(spark, target, ["k"], "ts", "op", tiebreak_col="seq")

    batch1 = spark.createDataFrame(
        [(1, t("2024-01-01 10:00:00"), 1, "insert", 10.0),
         (2, t("2024-01-01 10:01:00"), 2, "insert", 20.0)], schema)
    sink(batch1, 0)
    assert {r["k"] for r in spark.read.parquet(target).collect()} == {1, 2}

    # crash simulation: epoch-1 swap died between the two renames
    os.rename(target, f"{target}__old_1")
    os.makedirs(f"{target}__epoch_1")  # half-written tmp leftover
    assert not os.path.exists(target)

    # the replayed batch must see the restored base, not an empty one
    batch2 = spark.createDataFrame(
        [(3, t("2024-01-01 11:00:00"), 3, "insert", 30.0)], schema)
    sink(batch2, 1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}  # state survived the crash
    assert not os.path.exists(f"{target}__old_1")
    assert not os.path.exists(f"{target}__epoch_1")

    # recover_swap with a healthy target only sweeps stale leftovers
    os.makedirs(f"{target}__old_9")
    recover_swap(target)
    assert not os.path.exists(f"{target}__old_9")
    assert {r["k"] for r in spark.read.parquet(target).collect()} == {1, 2, 3}
