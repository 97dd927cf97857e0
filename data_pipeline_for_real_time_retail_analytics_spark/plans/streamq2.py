"""Stream–static join showcase query (registry-ready for round 7).

The one §2.10 production shape plans/streamq.py didn't cover: a stream
enriched against a STATIC dimension before aggregation — the
"clickstream + customer dim" topology. Stream–static joins are
stateless in Structured Streaming (each micro-batch joins against the
static relation; no watermark bookkeeping on the dim side), and the
bounded dimension is explicitly broadcast, so enrichment never
shuffles the stream.

Same harness as plans/streamq.py (which this module imports rather
than copies — that file backs driver-green tail queries and stays
bit-identical): stage events to parquet, run a REAL AvailableNow
streaming execution into a named memory sink, return the drained
table. NOT registered in ``__spark_entry__`` this round (r6 front
window exactly full); tests/test_streamq2.py runs the driver-identical
parity. Flip in r7 per the NOTES.md handoff.

Reference parity: the reference has no streaming at all (its
"real-time" layer is polling intervals, src/orchestration/
task_manager.py); the streaming suite is the mandated Spark-first
re-expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..streaming.ingest import file_stream, windowed_aggregate
from .streamq import _drain, stage_table


def q_stream_segment_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volume and value per CUSTOMER SEGMENT, computed by a
    real streaming execution: event stream → broadcast stream–static
    join to the customer dim → tumbling windowed aggregate. Events
    whose user has no customer row drop out of the inner join —
    mirrored exactly by the oracle."""
    stream = file_stream(spark, stage_table(spark, sf_dir, "events"))
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    enriched = stream.join(dim, "user_id")
    agg = windowed_aggregate(
        enriched, window="1 hour", group_extra=["c_mktsegment"]
    )
    return _drain(spark, agg, "streamq2_segment_hourly").orderBy(
        "window_start", "c_mktsegment"
    )


ORACLES: dict[str, str] = {
    "stream_segment_hourly": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
                   AS window_end,
               c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2, 3
        ORDER BY window_start, c_mktsegment
    """,
}

QUERIES = {
    "stream_segment_hourly": q_stream_segment_hourly,
}
