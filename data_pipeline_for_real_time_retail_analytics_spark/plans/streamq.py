"""Streaming-executed correctness queries (SURVEY.md §2.10).

Unlike the batch twins in ``plans/temporal.py``, these actually run a
Structured Streaming query (``Trigger.AvailableNow`` over a staged copy
of the events table) and surface the *streaming* result through the
driver's DuckDB oracle gate — proving stream/batch equivalence under the
same rows+schema+hash check the batch queries face, not just in pytest.

Mechanics: the events table is staged once per application to a
staging directory as microsecond-timestamp parquet (the raw testdata is
TIMESTAMP(NANOS), which the streaming file source cannot ingest
directly), a file-source stream reads it, the windowed/session
aggregation runs to completion with ``outputMode('complete')`` into a
memory sink, and the drained result is returned as a normal DataFrame.

Scale: the staging hop is a test-harness artifact only — production
input is already µs parquet / Delta and streams directly. The streaming
plans themselves are the bounded-state designs from streaming/ingest.py
(state dropped at watermark + gap).

reference: src/orchestration/sensors.py:226-353 (file-arrival sensing),
src/ingestion/change_detection.py:93-134 (windowed processing loop).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table
from data_pipeline_for_real_time_retail_analytics_spark.streaming.ingest import (
    file_stream,
    interval_join,
    run_available_now,
    sessionize,
    windowed_aggregate,
)

from .shared import shared, work_dir


def stage_table(
    spark: SparkSession, sf_dir: str, table: str, n_files: int | None = None
) -> str:
    """Write ``table`` as a streaming-readable (µs ts) parquet dir, once
    per (application, sf_dir, table, n_files), into a ``work_dir`` that
    is removed when the process exits.

    ``n_files`` repartitions the rows into that many files first, so a
    ``maxFilesPerTrigger=1`` drive runs that many micro-batches; by
    default the table keeps its own file layout."""
    tag = f"stage_{table}" if n_files is None else f"stage_{table}_{n_files}"

    def build() -> str:
        out = work_dir(spark, sf_dir, tag)
        df = load_table(spark, sf_dir, table)
        if n_files is not None:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(out)
        return out

    return shared(spark, sf_dir, tag, build)


#: state-store partition count for the streaming correctness queries.
#: ``spark.sql.shuffle.partitions`` at stream START fixes the number of
#: state-store instances for the query's lifetime — a CAPACITY knob that
#: must match stream volume, not the batch session default: every store
#: pays provider-init + per-batch commit regardless of data (a
#: stream-stream join runs FOUR stores per partition; at 32 partitions
#: that fixed cost was 8.6 s against 0.5 s of actual join work —
#: measured in NOTES round 5). 8 suits the test-harness volumes; a
#: production deployment sizes it to throughput and can repartition
#: state only via a fresh checkpoint.
STREAM_SHUFFLE_PARTITIONS = 8


@contextmanager
def _stream_scope(spark: SparkSession) -> Iterator[str]:
    """Scratch scope of one stream drive: yields a fresh directory for
    its checkpoint (and any staging), with the session's shuffle
    partitions at ``STREAM_SHUFFLE_PARTITIONS`` — the setting binds a
    stream only at its start. On exit, failed or not, the previous
    setting is restored and the directory deleted."""
    scratch = tempfile.mkdtemp(prefix="streamq_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )
        yield scratch
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(scratch, ignore_errors=True)


def _drain(
    spark: SparkSession, plan: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run the streaming plan to completion and return the memory sink.

    The sink name is deterministic per query so a repeated drive replaces
    the previous run's memory table instead of stacking a new one, and
    the checkpoint — useless once an AvailableNow run has drained into a
    memory sink — lives in a ``_stream_scope``. Aggregations drain in
    ``complete`` mode; stream-stream joins require ``append`` (their
    inner matches emit exactly once as found)."""
    spark.catalog.dropTempView(name)
    with _stream_scope(spark) as ckpt:
        q = run_available_now(plan, ckpt, queryName=name, output_mode=output_mode)
        q.stop()
    return spark.table(name)


def _drain_overlapped(
    spark: SparkSession,
    plan: DataFrame,
    name: str,
    batch_df: DataFrame,
    output_mode: str = "complete",
) -> tuple[DataFrame, DataFrame]:
    """``_drain`` plus an independent BATCH frame materialized WHILE the
    stream drains (guide §2.6 overlap-independent-jobs): the streaming
    drive's cost is dominated by fixed per-micro-batch overhead
    (planning, state-store commits, Python state round-trips) that
    leaves executors mostly idle, so an independent batch job back-fills
    them instead of running serially after the drain. Returns
    ``(drained sink table, localCheckpointed batch frame)``.

    The batch action runs under the stream's
    ``STREAM_SHUFFLE_PARTITIONS`` session setting — partition count
    never changes aggregation/join VALUES, only task granularity, and
    the checkpoint pins the rows before the conf is restored."""
    spark.catalog.dropTempView(name)
    with _stream_scope(spark) as ckpt:
        q = (
            plan.writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
        try:
            batch = batch_df.localCheckpoint()  # overlaps the drive
            q.awaitTermination()
        finally:
            # a failed batch action must not leave the stream running
            # while the scope deletes its checkpoint
            q.stop()
    return spark.table(name), batch


def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation per event type, computed by an
    actual Structured Streaming execution. Epoch-aligned ``window()``
    buckets equal ``date_trunc('hour', ts)`` on the oracle side."""
    stream = file_stream(spark, stage_table(spark, sf_dir, "events"))
    agg = windowed_aggregate(stream, window="1 hour", group_extra=["event_type"])
    return _drain(spark, agg, "streamq_events_hourly").orderBy(
        "window_start", "event_type"
    )


def q_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (10-minute inactivity gap) from a
    real streaming run — same session semantics as the batch
    ``user_sessions`` oracle (session end = last event + gap)."""
    stream = file_stream(spark, stage_table(spark, sf_dir, "events"))
    sess = sessionize(stream, gap="10 minutes")
    return _drain(spark, sess, "streamq_user_sessions").select(
        "user_id", "session_start", "session_end", "n_events"
    ).orderBy("user_id", "session_start")


def q_stream_click_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, actually executed as two streams:
    every click matched to the same user's purchases of the PRECEDING
    hour (streaming/ingest.py:interval_join — watermarks on both sides,
    join state expires at watermark + lookback). Inner matches emit as
    found, so the AvailableNow drain in append mode yields the complete
    batch-equal answer."""
    src = stage_table(spark, sf_dir, "events")
    clicks = (
        file_stream(spark, src)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        file_stream(spark, src)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.round(F.col("value").cast("decimal(12,2)"), 2)
            .cast("double")
            .alias("purchase_value"),
        )
    )
    joined = interval_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="click_ts",
        right_ts="purchase_ts",
        lookback="1 hour",
    )
    return _drain(
        spark, joined, "streamq_click_purchases", output_mode="append"
    ).orderBy("click_id", "purchase_id")


QUERIES = {
    "stream_events_hourly": q_stream_events_hourly,
    "stream_user_sessions": q_stream_user_sessions,
    "stream_click_purchases": q_stream_click_purchases,
}

ORACLES: dict[str, str] = {
    "stream_events_hourly": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
                   AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY window_start, event_type
    """,
    "stream_click_purchases": """
        SELECT c.event_id AS click_id, c.user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               p.event_id AS purchase_id,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               CAST(ROUND(CAST(p.value AS DECIMAL(12,2)), 2) AS DOUBLE)
                   AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
        ORDER BY click_id, purchase_id
    """,
    "stream_user_sessions": """
        WITH o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w + INTERVAL 10 MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM o
        )
        SELECT user_id,
               CAST(MIN(ts) AS TIMESTAMP) AS session_start,
               CAST(MAX(ts) + INTERVAL 10 MINUTES AS TIMESTAMP) AS session_end,
               COUNT(*) AS n_events
        FROM s
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start
    """,
}
