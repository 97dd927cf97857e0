"""Batch interval-join correlation.

``click_error_interval``: every (click, error) event pair by the same
user where the error follows the click within ``GAP_SECONDS`` — the
batch ALL-matches twin of the registered stream-stream interval join
(``stream_click_purchases``) and the range complement of the staged
single-match as-of attribution (``purchase_click_asof``). The
error-after-click correlation table is the incident-analysis primitive
("which interactions preceded failures, and by how much") that a plain
SQL range predicate would execute as a broadcast-nested-loop.

Exactness: the bound compare and the emitted gap are integer
microsecond arithmetic end to end (``unix_micros`` ↔ DuckDB
``epoch_us``) — never a float timestamp difference; both bounds are
inclusive on both engines.

Scale shape (operators/rangejoin.py): bin width = window length turns
the range predicate into an equi-join on (user, bin) — the left side
explodes into exactly two bins, the right side lands in one, so
candidate volume is per-(user, bin) temporal co-occurrence, never a
cartesian; the plan pin asserts no nested-loop join survives. At 100 TB
the bin width is the skew lever (a hot user's candidates are bounded
by its own per-hour event counts), exactly like the fuzzy-match block
key.

Reference scope: the reference has no join operators at all
(SURVEY.md §2.7); the interval-join family is beyond-reference,
mandated by the training-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rangejoin import interval_join_binned
from ..sources import load_table

#: errors within this many seconds AFTER a click correlate
GAP_SECONDS = 3600


def q_click_error_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, click_id, error_id, gap_us) for every error within
    GAP_SECONDS after a click by the same user."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    return (
        interval_join_binned(
            clicks,
            errors,
            key_cols=["user_id"],
            left_ts="click_ts",
            right_ts="error_ts",
            max_gap_seconds=GAP_SECONDS,
            gap_col="gap_us",
        )
        .select("user_id", "click_id", "error_id", "gap_us")
        .orderBy("user_id", "click_id", "error_id")
    )


QUERIES = {
    "click_error_interval": q_click_error_interval,
}

ORACLES: dict[str, str] = {
    "click_error_interval": f"""
        WITH ev AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events WHERE ts IS NOT NULL
        )
        SELECT c.user_id,
               c.event_id AS click_id,
               e.event_id AS error_id,
               e.us - c.us AS gap_us
        FROM ev c
        JOIN ev e ON c.user_id = e.user_id
        WHERE c.event_type = 'click'
          AND e.event_type = 'error'
          AND e.us >= c.us
          AND e.us - c.us <= {GAP_SECONDS * 1_000_000}
        ORDER BY c.user_id, c.event_id, e.event_id
    """,
}
