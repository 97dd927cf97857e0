"""Temporal operator queries: sliding/session windows, as-of join,
skew-salted aggregation — the time-series surface of the engine.

The reference's only temporal machinery is polling intervals and a
60-minute dedup window (SURVEY.md §2.10); these queries implement the
windowed/sessionized/as-of semantics a real-time retail pipeline needs,
Spark-first, each with a DuckDB oracle in ``ORACLES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.agg import exact_sum, money
from ..operators.asof import asof_join_backward
from ..operators.skew import salted_agg
from ..operators.windows import session_window_agg, sliding_window_agg
from ..sources import load_table


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes over events: each row lands
    in exactly 2 windows; partial aggs then one shuffle on window_start."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_window_agg(
        ev,
        "ts",
        "1 hour",
        "30 minutes",
        [
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(money(F.col("value"))).alias("sum_value"),
        ],
    ).orderBy("window_start")


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 10-minute inactivity gap.
    session_window is a grouped agg: one shuffle on user_id, sessions
    assembled inside each partition — no self-join, no state explosion."""
    ev = load_table(spark, sf_dir, "events")
    return session_window_agg(
        ev,
        "ts",
        "10 minutes",
        [
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_event_types"),
        ],
        keys=["user_id"],
    ).orderBy("user_id", "session_start")


def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click attributed to the user's most recent
    purchase at-or-before the click (merge formulation — one shuffle on
    user_id, ordered sweep; operators/asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("last_purchase_id"),
        F.col("value").alias("last_purchase_value"),
    )
    out = asof_join_backward(
        clicks,
        purchases,
        key_cols=["user_id"],
        ts_col="ts",
        right_value_cols=["last_purchase_id", "last_purchase_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "last_purchase_id",
        F.round(F.col("last_purchase_value").cast("decimal(12,2)"), 2)
        .cast("double")
        .alias("last_purchase_value"),
    ).orderBy("event_id")


def q_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the (skewed, low-cardinality)
    event_type key — bit-identical to a direct groupBy, but each hot key
    spreads over 16 partitions before the merge (operators/skew.py)."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        salt_from=["event_id"],
        partial_aggs={
            "pc": F.count(F.lit(1)),
            "ps": F.sum(money(F.col("value"))),
            "pm": F.max(F.col("ts")),
        },
        merge_aggs={
            "n_events": F.sum(F.col("pc")),
            "sum_value": F.round(F.sum(F.col("ps")), 2).cast("double"),
            "max_ts": F.max(F.col("pm")),
        },
        buckets=16,
    )
    return out.orderBy("event_type")


QUERIES = {
    "events_sliding": q_events_sliding,
    "user_sessions": q_user_sessions,
    "click_attribution": q_click_attribution,
    "salted_event_rollup": q_salted_event_rollup,
}

ORACLES: dict[str, str] = {
    "events_sliding": """
        WITH b AS (
            SELECT time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP),
                               TIMESTAMP '1970-01-01 00:00:00') AS b30,
                   value
            FROM events
        ),
        x AS (
            SELECT b30 AS window_start, value FROM b
            UNION ALL
            SELECT b30 - INTERVAL 30 MINUTES AS window_start, value FROM b
        )
        SELECT window_start,
               window_start + INTERVAL 60 MINUTES AS window_end,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM x
        GROUP BY window_start
        ORDER BY window_start
    """,
    "user_sessions": """
        WITH o AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w + INTERVAL 10 MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts, event_type,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM o
        )
        SELECT user_id,
               CAST(MIN(ts) AS TIMESTAMP) AS session_start,
               CAST(MAX(ts) + INTERVAL 10 MINUTES AS TIMESTAMP) AS session_end,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_event_types
        FROM s
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start
    """,
    "click_attribution": """
        SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
               p.event_id AS last_purchase_id,
               CAST(ROUND(CAST(p.value AS DECIMAL(12,2)), 2) AS DOUBLE)
                   AS last_purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY c.event_id
    """,
    "salted_event_rollup": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS sum_value,
               CAST(MAX(ts) AS TIMESTAMP) AS max_ts
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
}
