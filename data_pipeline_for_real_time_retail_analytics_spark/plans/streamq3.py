"""Stream-stream LEFT-OUTER interval join, driver-gate-ready (round 8).

The last §2.10 shape without a driver row of its own: outer-join
semantics on a stream-stream join. Unlike the inner join
(``stream_click_purchases``), an unmatched left row may only emit its
NULL-extended completion once the watermark PROVES no future match can
arrive — watermarks advance at batch END, so the completion lands in a
LATER micro-batch than the row itself. This query drives the full
production sequence deterministically in ONE AvailableNow execution:

1. stage clicks and purchases as separate file-stream directories,
   each WITH one far-future sentinel row appended under reserved
   negative user ids (the global watermark is the MIN across streams,
   so both sides must advance);
2. a single AvailableNow drain into a FILE sink: the data batch emits
   every inner match and, at batch end, advances the watermark past
   every real click's join window (sentinel ts ≫ max real ts + delay
   + lookback); the engine's no-data micro-batch
   (``spark.sql.streaming.noDataMicroBatches.enabled``, default true,
   honored under AvailableNow) then evicts the expired join state and
   flushes every NULL-row completion before the query terminates;
3. read the sink, drop sentinel traffic, localCheckpoint so the
   scratch directory can be deleted before returning.

The drive is exact only if ONE micro-batch reads every staged file. If
the file source split them over several batches (a
``maxFilesPerTrigger``, say) and a sentinel landed in an earlier batch,
the watermark would pass real rows not yet read, and the join would
drop them as late data. The staged files are read with no per-trigger
limit, and after every drive ``_check_one_data_batch`` checks the
query's progress: exactly one batch with input, holding every staged
row (each staging write counts its rows with an ``Observation``).

r14 (guide §1/§2.4): this was a TWO-phase drive — drain, append
sentinels, drain again over the same checkpoint — which paid a second
full streaming-query lifecycle (planning, state-store reload, commits)
and two extra single-row write jobs per cell. Staging the sentinels up
front makes the engine's own no-data batch do the flush; probed
per-batch (NOTES.md records the probe): batch 0 processes all rows,
batch 1 (no-data) drops state 3989 → 2 sentinel rows and emits the
completions — output row-for-row identical to the two-phase drive.
The two-phase checkpoint-recovery semantics (inner matches do not
re-emit on a restarted drive) remain pinned where they are exercised
deliberately: tests/test_curation.py's two-phase interval_join drive.

At scale the same topology runs continuously: the "sentinel" is
ordinary newer traffic and the no-data batch is the idle-period state
flush every watermark deployment relies on — the sequence here
compresses that timeline into one deterministic drive so the driver's
DuckDB oracle (a plain LEFT JOIN) can value-check the emitted union.
State stays bounded by ``delay + lookback`` of traffic exactly as in
the inner case (streaming/ingest.py:interval_join).

Reference parity: the reference has no streaming at all (its
"real-time" layer is polling intervals, src/orchestration/
task_manager.py:171-210); the streaming suite is the mandated
Spark-first re-expression.

tests/test_streamq3.py pins the semantics; driver-identical parity
runs in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import load_table
from ..streaming.ingest import interval_join
from .streamq import _stream_scope

#: event-time watermarks require TIMESTAMP (ltz) columns — the staged
#: parquet round-trips load_table's NTZ timestamps, so the stream
#: readers re-type them explicitly (session TZ is pinned UTC by
#: load_table, making the two types value-identical here)
_CLICKS_SCHEMA = T.StructType(
    [
        T.StructField("click_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("click_ts", T.TimestampType()),
    ]
)
_PURCHASES_SCHEMA = T.StructType(
    [
        T.StructField("purchase_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_ts", T.TimestampType()),
        T.StructField("purchase_value", T.DoubleType()),
    ]
)

#: reserved sentinel users (real user_ids are non-negative)
_SENTINEL_CLICK_USER = -1
_SENTINEL_PURCHASE_USER = -2
#: far beyond any synthetic event timestamp + delay + lookback
_SENTINEL_TS = "2030-01-01 00:00:00"


def _click_purchase_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.round(F.col("value").cast("decimal(12,2)"), 2)
        .cast("double")
        .alias("purchase_value"),
    )
    return clicks, purchases


def _check_one_data_batch(progress: list, staged_rows: int) -> None:
    """Raise unless exactly one micro-batch read input, and it read all
    ``staged_rows`` (both sides, sentinels included): the condition under
    which the single drive is exact (module docstring)."""
    data = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    if data != [staged_rows]:
        raise RuntimeError(
            f"outer-join drive read its {staged_rows} staged rows in "
            f"micro-batches of {data}; the single-drive emission needs "
            "exactly one data batch"
        )


def q_stream_click_purchases_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every click joined left-outer to the same user's purchases of the
    preceding hour, through a REAL single-drive AvailableNow streaming
    execution (module docstring); unmatched clicks carry NULL purchase
    columns, flushed by the watermark-advancing no-data batch."""
    clicks, purchases = _click_purchase_frames(spark, sf_dir)
    sent_ts = F.to_timestamp(F.lit(_SENTINEL_TS))
    # spark.range(1) as the row factory (NOT clicks.limit(1) — an empty
    # corpus would then write zero sentinel rows and the watermark would
    # never advance)
    sent_click = spark.range(1).select(
        F.lit(-1).cast("long").alias("click_id"),
        F.lit(_SENTINEL_CLICK_USER).cast("long").alias("user_id"),
        sent_ts.alias("click_ts"),
    )
    sent_purch = spark.range(1).select(
        F.lit(-1).cast("long").alias("purchase_id"),
        F.lit(_SENTINEL_PURCHASE_USER).cast("long").alias("user_id"),
        sent_ts.alias("purchase_ts"),
        F.lit(0.0).alias("purchase_value"),
    )
    obs_clicks, obs_purch = Observation(), Observation()
    with _stream_scope(spark) as scratch:
        ldir, rdir, ckpt, outdir = (
            os.path.join(scratch, d) for d in ("clicks", "purch", "ckpt", "out")
        )
        # the two staging writes are independent jobs — submit both and
        # let the scheduler back-fill (guide §2.6 overlap-independent-
        # jobs); actions are only sequential when the driver calls them
        # sequentially. Each counts its rows with an Observation for the
        # single-batch check below (no extra job).
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [
                pool.submit(
                    clicks.unionByName(sent_click)
                    .observe(obs_clicks, F.count(F.lit(1)).alias("rows"))
                    .write.mode("overwrite")
                    .parquet,
                    ldir,
                ),
                pool.submit(
                    purchases.unionByName(sent_purch)
                    .observe(obs_purch, F.count(F.lit(1)).alias("rows"))
                    .write.mode("overwrite")
                    .parquet,
                    rdir,
                ),
            ]:
                f.result()
        ls = spark.readStream.schema(_CLICKS_SCHEMA).parquet(ldir)
        rs = spark.readStream.schema(_PURCHASES_SCHEMA).parquet(rdir)
        joined = interval_join(
            ls,
            rs,
            key_cols=["user_id"],
            left_ts="click_ts",
            right_ts="purchase_ts",
            lookback="1 hour",
            how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        _check_one_data_batch(
            q.recentProgress,
            obs_clicks.get["rows"] + obs_purch.get["rows"],
        )
        return (
            spark.read.parquet(outdir)
            .where(F.col("user_id") >= 0)
            .select(
                "click_id",
                "user_id",
                "click_ts",
                "purchase_id",
                "purchase_ts",
                "purchase_value",
            )
            .orderBy(
                "click_id", F.col("purchase_id").asc_nulls_first()
            )
            # materialize off the scratch dir so it can be deleted
            .localCheckpoint()
        )


QUERIES = {
    "stream_click_purchases_outer": q_stream_click_purchases_outer,
}

ORACLES: dict[str, str] = {
    "stream_click_purchases_outer": """
        SELECT c.event_id AS click_id, c.user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               p.event_id AS purchase_id,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               CAST(ROUND(CAST(p.value AS DECIMAL(12,2)), 2) AS DOUBLE)
                   AS purchase_value
        FROM events c
        LEFT JOIN events p
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
        WHERE c.event_type = 'click'
        ORDER BY click_id, purchase_id
    """,
}
