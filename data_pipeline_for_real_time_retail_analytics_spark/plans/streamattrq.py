"""STREAMING session first-touch attribution.

``stream_session_first_touch``: the plans/sessionattrq.py attribution
computed by an ACTUAL Structured Streaming execution — a
``session_window`` aggregation (10-minute gap, watermarked, state
dropped at watermark + gap) drained with ``Trigger.AvailableNow`` into
a memory sink, then one bounded batch rollup to the first-touch grain.
Output and oracle are IDENTICAL to the batch twin: ``session_window``
merges events exactly when the next event starts < gap after the
previous (new session at ``ts >= prev + gap``), the same boundary the
batch lag/cumsum idiom and the DuckDB oracle use — so the driver's
hash gate proves stream/batch attribution equivalence end-to-end, the
plans/streamq.py pattern extended to the session-attribution grain.

First-touch inside a streaming aggregate: ``MIN(struct(ts, event_id,
event_type))`` — the struct minimum is the (ts, event_id) lexicographic
first event, deterministic because (ts, event_id) is a total order; no
ordered-window dependence, so it streams with bounded per-session
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sessionattrq import GAP_MINUTES, PPM
from .streamq import _drain, stage_table
from ..streaming.ingest import file_stream

#: late-data allowance for the watermark (the streamq convention)
DELAY = "60 minutes"


def q_stream_session_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(first_type, n_sessions, n_converted, conv_ppm, purchase_cents)
    — batch-equal, computed by a real streaming run."""
    stream = file_stream(spark, stage_table(spark, sf_dir, "events")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    sessions = (
        stream.withWatermark("ts", DELAY)
        .groupBy(
            F.session_window(F.col("ts"), f"{GAP_MINUTES} minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.min(
                F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
            )["event_type"].alias("first_type"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
                .otherwise(0)
            ).alias("purchase_cents"),
        )
    )
    drained = _drain(spark, sessions, "streamq_session_first_touch")
    return (
        drained.groupBy("first_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").cast("long").alias("n_converted"),
            F.sum("purchase_cents").cast("long").alias("purchase_cents"),
        )
        .select(
            "first_type",
            "n_sessions",
            "n_converted",
            F.expr(f"({PPM} * n_converted) DIV n_sessions").alias("conv_ppm"),
            "purchase_cents",
        )
        .orderBy("first_type")
    )


QUERIES = {
    "stream_session_first_touch": q_stream_session_first_touch,
}

#: identical semantics to the batch twin — same oracle text, proving
#: stream/batch equivalence through the driver's value gate
from .sessionattrq import ORACLES as _BATCH_ORACLES  # noqa: E402

ORACLES: dict[str, str] = {
    "stream_session_first_touch": _BATCH_ORACLES["session_first_touch"],
}
