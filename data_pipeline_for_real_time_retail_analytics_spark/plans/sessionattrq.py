"""Session-grain first-touch attribution.

``session_first_touch``: gap-sessionize the event stream (10-minute
inactivity, the plans/temporal.py convention), then attribute each
session's conversion to its ENTRY event type: per first-touch type,
how many sessions started there, how many converted (contain a
purchase), the conversion rate in exact ppm, and the purchase value
they carried in centi-units. The marketing-attribution staple that
composes the engine's two behavioral primitives — the sessionization
idiom (lag + cumulative-sum session ids) and the Markov entry analysis
(plans/markovq.py asks "where do users go next", this asks "what did
the sessions that end in money start with").

Engine-parity notes: every row is ordered by the total order
(ts, event_id) on both sides; session-boundary flags only compare ts
values, so tie order cannot move a boundary. Money is DECIMAL→centi-
unit BIGINT, rates are integer floor ppm — no float surface anywhere.

Scale shape: one shuffle on user_id drives BOTH windows (the lag and
the session-local row_number share the partition key), then two
bounded aggregations (session-grain, then |event types|-grain). The
streaming twin of the same grain is ``stream_user_sessions``
(plans/streamq.py) — this is the batch/backfill path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

PPM = 1_000_000
GAP_MINUTES = 10


def q_session_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(first_type, n_sessions, n_converted, conv_ppm, purchase_cents)
    over 10-minute-gap user sessions."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("_lag_ts", F.lag("ts").over(w)).withColumn(
        "_new_sess",
        F.when(
            F.col("_lag_ts").isNull()
            | (F.col("ts") >= F.expr(f"_lag_ts + INTERVAL {GAP_MINUTES} MINUTES")),
            1,
        ).otherwise(0),
    )
    with_sess = flagged.withColumn(
        "_sess_id",
        F.sum("_new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "_sess_id").orderBy("ts", "event_id")
    sessions = (
        with_sess.withColumn("_rn", F.row_number().over(w_sess))
        .groupBy("user_id", "_sess_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("event_type"))).alias(
                "first_type"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("_converted"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                    0
                )
            ).alias("_purchase_cents"),
        )
    )
    return (
        sessions.groupBy("first_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("_converted").cast("long").alias("n_converted"),
            F.sum("_purchase_cents").cast("long").alias("purchase_cents"),
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
    "session_first_touch": q_session_first_touch,
}

ORACLES: dict[str, str] = {
    "session_first_touch": f"""
        WITH e AS (
            SELECT user_id, ts, event_id, event_type,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w
                                + INTERVAL {GAP_MINUTES} MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sid AS (
            SELECT *,
                   SUM(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM e
        ),
        s AS (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id, sess_id
                                      ORDER BY ts, event_id) AS rn
            FROM sid
        ),
        sess AS (
            SELECT user_id, sess_id,
                   MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted,
                   SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
                       AS purchase_cents
            FROM s
            GROUP BY user_id, sess_id
        )
        SELECT first_type,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               CAST(({PPM} * SUM(converted)) // COUNT(*) AS BIGINT)
                   AS conv_ppm,
               CAST(SUM(purchase_cents) AS BIGINT) AS purchase_cents
        FROM sess
        GROUP BY first_type
        ORDER BY first_type
    """,
}
