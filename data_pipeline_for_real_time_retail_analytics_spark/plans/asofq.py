"""Tolerance-bounded as-of join query (operators/asof.py).

``purchase_click_asof``: every purchase attributed to the same user's
most recent click at-or-before it, but only when the click is at most
TOLERANCE_S old — the pandas ``merge_asof(tolerance=...)`` semantics
(r9 verdict surface-growth ask #8b). Complements the unbounded
``click_attribution`` cell (plans/temporal.py): the tolerance turns
"last touch ever" into "last touch in the attribution window", which
is what marketing/feature pipelines actually ship.

Determinism: the right side is pre-aggregated to one row per
(user_id, ts) (MAX(event_id) as the click id), so the as-of pick is
unique on both engines; the tolerance compare is exact integer
microseconds (``unix_micros`` ↔ ``epoch_us``).

Scale shape: the operator's merge formulation — one shuffle on
user_id, per-key ordered sweep, no range join; the tolerance is a
post-filter on the carried match, not a join predicate, so the plan is
identical to the unbounded cell's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join_backward
from ..sources import load_table

#: attribution window: 10 minutes
TOLERANCE_S = 600


def q_purchase_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(purchase_id, user_id, purchase_ts, click_ts, click_id, gap_us)
    with NULL click columns when no click falls inside the window."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join_backward(
        purchases,
        clicks,
        key_cols=["user_id"],
        ts_col="ts",
        right_value_cols=["click_id"],
        tolerance_seconds=TOLERANCE_S,
        matched_ts_col="click_ts",
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_ts",
        "click_id",
        F.expr("timestampdiff(MICROSECOND, click_ts, ts)")
        .cast("long")
        .alias("gap_us"),
    ).orderBy("purchase_id")


QUERIES = {
    "purchase_click_asof": q_purchase_click_asof,
}

ORACLES: dict[str, str] = {
    "purchase_click_asof": f"""
        WITH purch AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ),
        clk AS (
            SELECT user_id, ts, MAX(event_id) AS click_id
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        matched AS (
            SELECT p.purchase_id, p.user_id,
                   CAST(p.ts AS TIMESTAMP) AS purchase_ts,
                   CAST(c.ts AS TIMESTAMP) AS click_ts,
                   c.click_id,
                   epoch_us(CAST(p.ts AS TIMESTAMP))
                     - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
            FROM purch p
            ASOF LEFT JOIN clk c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        )
        SELECT purchase_id, user_id, purchase_ts,
               CASE WHEN gap_us <= {TOLERANCE_S * 1_000_000}
                    THEN click_ts END AS click_ts,
               CASE WHEN gap_us <= {TOLERANCE_S * 1_000_000}
                    THEN click_id END AS click_id,
               CAST(CASE WHEN gap_us <= {TOLERANCE_S * 1_000_000}
                    THEN gap_us END AS BIGINT) AS gap_us
        FROM matched
        ORDER BY purchase_id
    """,
}
