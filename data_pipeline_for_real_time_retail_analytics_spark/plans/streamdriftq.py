"""STREAMING drift monitoring.

``stream_events_value_drift``: the plans/driftq.py window-vs-window PSI
with its (event_type, bin, ref/cur) count state maintained by an
ACTUAL Structured Streaming execution — events arrive as a file
stream, each row fans map-side into its (group, bin, window-side)
count cell, and ONE streaming aggregation holds the whole state:
**groups × bins × 2 integers** (≤ ~100 cells here), bounded by
construction, no watermark needed. This is how a production
training-data monitor actually runs — the PSI is re-derived from
standing counts as data flows, never by re-scanning history.

Count linearity makes the incremental maintenance exact (the
plans/streamcmsq.py argument: micro-batch addition is associative), so
the drained cells equal the batch count pass bit-for-bit and the PSI
tail — complete-domain fill + micro-unit addend aggregation — runs as
a bounded batch job over the drained frame. Output and oracle are
IDENTICAL to ``events_value_drift``: the driver's hash gate itself
proves stream ≡ batch drift monitoring end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import complete_bins, fixed_width_bin, psi_micro
from .driftq import SPLIT_TS, VALUE_BIN_WIDTH
from .driftq import ORACLES as _BATCH_ORACLES
from ..streaming.ingest import file_stream
from .streamq import _drain, stage_table


def q_stream_events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type PSI (micro-units) from STREAM-maintained bin
    counts — batch-equal by count linearity, proven by the shared
    oracle text."""
    stream = file_stream(spark, stage_table(spark, sf_dir, "events"))
    is_ref = F.col("ts") < F.lit(SPLIT_TS).cast("timestamp")
    cells = (
        stream.select(
            "event_type",
            fixed_width_bin(F.col("value"), VALUE_BIN_WIDTH).alias("bin"),
            is_ref.cast("int").alias("__ref"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("__ref").cast("long").alias("c_ref"),
            F.sum(1 - F.col("__ref")).cast("long").alias("c_cur"),
        )
    )
    drained = _drain(spark, cells, "stream_drift_cells").localCheckpoint()
    groups = drained.select("event_type").distinct()
    completed = complete_bins(
        drained, groups, ["event_type"], ["c_ref", "c_cur"]
    )
    return psi_micro(completed, ["event_type"]).orderBy("event_type")


QUERIES = {
    "stream_events_value_drift": q_stream_events_value_drift,
}

#: identical semantics to the batch twin — same oracle text, proving
#: stream/batch drift-state equivalence through the value gate
ORACLES: dict[str, str] = {
    "stream_events_value_drift": _BATCH_ORACLES["events_value_drift"],
}
