"""Structured Streaming ingest path (SURVEY.md §2.10).

The reference's real-time surface is a polling loop: sensors poke sources
every N seconds, a deduplicator suppresses repeated change events inside
a 60-minute window, a watermark file advances after each batch, and late
events (ts ≤ watermark) are silently dropped (reference:
src/orchestration/sensors.py:44-133, src/ingestion/change_detection.py:
93-134,168-198). Structured Streaming subsumes every piece natively:

==========================  =============================================
reference mechanism          Spark primitive
==========================  =============================================
polling interval             ``Trigger.ProcessingTime`` micro-batches
watermark file store         ``checkpointLocation`` (offsets + state)
60-min event dedup           ``withWatermark + dropDuplicatesWithinWatermark``
late-event drop              watermark semantics (exact match)
skip-if-no-changes           empty micro-batch short-circuit
file-arrival sensor          file source (``pathGlobFilter``, ``maxFileAge``)
validation-then-load         ``foreachBatch`` (validate, filter, write)
==========================  =============================================

Correctness strategy: every streaming transform here is a *plan builder*
usable in both batch and streaming mode; tests run the stream with
``Trigger.AvailableNow`` over static files and assert equality with the
batch plan (batch-equivalence — SURVEY.md §7.3c).

Scale: state-store size is bounded by the watermark delay; shuffle
partitions size the state store at 100 TB (one state dir per partition).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: schema for the events stream (ts as LongType nanos is handled below)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def file_stream(
    spark: SparkSession,
    directory: str,
    schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival streaming source — the Spark-native replacement for the
    reference's ``FileSystemChangeSensor`` (src/orchestration/sensors.py:
    226-353): glob filtering maps to ``pathGlobFilter``; the sensor's
    ``min_file_age_seconds`` in-flight-write guard is unnecessary because
    the source tracks completed files by listing + checkpoint."""
    reader = spark.readStream.format(fmt).schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory)


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "60 minutes",
) -> DataFrame:
    """C5 streaming twin: suppress duplicate keys within the watermark
    delay (reference dedup window: change_detection.py:96). State is
    dropped once the watermark passes — bounded memory at any scale."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(key_cols)


def windowed_aggregate(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    delay: str = "60 minutes",
    group_extra: list[str] | None = None,
) -> DataFrame:
    """Tumbling/sliding windowed aggregation with late-data handling — the
    idiomatic extension of the reference's fixed polling intervals
    (SURVEY.md §2.10 'Windows'). Late rows beyond ``delay`` are dropped,
    matching the reference's ts ≤ watermark drop semantics exactly."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(
        F.col(ts_col), window
    )
    keys = [win.alias("win")] + [F.col(c) for c in (group_extra or [])]
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in (group_extra or [])],
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    user_col: str = "user_id",
    delay: str = "60 minutes",
) -> DataFrame:
    """Session windows per user (gap-based) — beyond-reference but the
    natural retail-analytics companion; ``session_window`` keeps state
    only until watermark + gap."""
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    delay: str = "60 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval: each left row
    matches right rows on the keys with ``right_ts`` in
    ``[left_ts - lookback, left_ts]`` — e.g. every click joined to the
    purchases of the preceding hour. Works identically on batch frames
    (watermarks are a no-op there), which is what the batch-equivalence
    tests and the DuckDB oracle exploit.

    Both sides carry watermarks and the join condition bounds BOTH event
    times, so Spark can expire join state: left rows are dropped once the
    right watermark passes ``left_ts``, right rows once the left
    watermark passes ``right_ts + lookback`` — state stays proportional
    to ``delay + lookback`` of traffic, never to the stream's history.
    Inner-join matches emit as found (no watermark wait), so an
    AvailableNow drain yields the complete answer. Timestamp columns must
    be pre-renamed to distinct names; only ``key_cols`` may collide.

    ``how='left_outer'`` additionally emits unmatched left rows with
    NULL right columns — but only once the watermark PROVES no future
    match can arrive, which happens in a LATER micro-batch than the row
    itself (watermarks advance at batch end). A single AvailableNow pass
    therefore returns only the inner matches; the outer rows arrive on
    the next trigger over the same checkpoint once newer data has moved
    the watermark (test_curation.py::test_interval_join_left_outer_*
    drives exactly that two-phase sequence).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval_join supports inner/left_outer, got {how!r}")
    is_streaming = left.isStreaming
    lw = left.withWatermark(left_ts, delay) if is_streaming else left
    rw = right.withWatermark(right_ts, delay) if is_streaming else right
    cond = F.expr(
        " AND ".join(
            [f"l.{k} = r.{k}" for k in key_cols]
            + [
                f"r.{right_ts} >= l.{left_ts} - INTERVAL {lookback}",
                f"r.{right_ts} <= l.{left_ts}",
            ]
        )
    )
    joined = lw.alias("l").join(rw.alias("r"), cond, how)
    # collapse the duplicated key columns back to a single copy
    keep = [F.col(f"l.{k}").alias(k) for k in key_cols]
    keep += [F.col(f"l.{c}") for c in left.columns if c not in key_cols]
    keep += [F.col(f"r.{c}") for c in right.columns if c not in key_cols]
    return joined.select(*keep)


def validated_foreach_batch(
    validate_fn: Callable[[DataFrame], DataFrame],
    out_path: str,
    stats: list[dict] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: per micro-batch, apply a validation filter and
    append surviving rows to the staging sink — the streaming version of
    the reference's detect → validate → fail-or-filter → load operator
    (src/orchestration/operators.py:36-136). Delivery is at-least-once:
    the append is not keyed by the batch epoch, so a batch replayed
    after a crash before its checkpoint commit is appended again.

    Pass a list as ``stats`` to collect per-batch extraction statistics
    (the reference's E4 surface): ``{"epoch", "rows_in", "rows_valid"}``
    appended per processed batch. The counts ride the WRITE pass via
    ``Observation`` — zero extra jobs, unlike a count() per metric."""

    def _body(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Observation

        if stats is None:
            validate_fn(batch_df).write.mode("append").parquet(out_path)
            return
        obs_in = Observation(f"ingest_in_{epoch_id}")
        obs_out = Observation(f"ingest_out_{epoch_id}")
        good = validate_fn(
            batch_df.observe(obs_in, F.count(F.lit(1)).alias("rows"))
        ).observe(obs_out, F.count(F.lit(1)).alias("rows"))
        good.write.mode("append").parquet(out_path)
        stats.append(
            {
                "epoch": epoch_id,
                "rows_in": obs_in.get["rows"],
                "rows_valid": obs_out.get["rows"],
            }
        )

    return _body


def run_available_now(
    df: DataFrame,
    checkpoint: str,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    queryName: str = "ingest",
    output_mode: str = "append",
) -> StreamingQuery:
    """Run a streaming plan to completion over all currently-available
    input (``Trigger.AvailableNow``) — used for batch-equivalence tests
    and catch-up processing. Blocks until drained."""
    writer = df.writeStream.option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    )
    if foreach_batch is not None:
        q = writer.foreachBatch(foreach_batch).outputMode(output_mode).start()
    else:
        q = (
            writer.format("memory")
            .queryName(queryName)
            .outputMode(output_mode)
            .start()
        )
    q.awaitTermination()
    return q
