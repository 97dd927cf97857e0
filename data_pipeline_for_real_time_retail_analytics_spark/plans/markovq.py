"""Event-transition matrix (first-order Markov chain over user
journeys).

``event_transitions``: for every ordered pair of event types, how many
times a user's NEXT event was of the second type, plus the row-
normalized transition probability in exact parts-per-million (integer
floor division — no float surface). The behavioral-analytics staple:
where do users go after a click, what precedes churn/error, the input
to next-action prediction and journey-funnel design.

Shapes: one lag window per user (partition = user_id, order =
(ts, event_id) — a total order, so the previous event is unique and
both engines agree), then a (from, to)-grain partial aggregation. The
per-user window is the sessionization shape the engine already scales
(plans/temporal.py); the transition matrix is |event types|² rows —
driver-bounded output by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

PPM = 1_000_000


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n_trans, n_from, prob_ppm) over all user
    journeys."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        trans.withColumn("n_from", F.sum("n_trans").over(w_from))
        .select(
            "from_type",
            "to_type",
            "n_trans",
            "n_from",
            F.expr(f"({PPM} * n_trans) DIV n_from").alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES = {
    "event_transitions": q_event_transitions,
}

ORACLES: dict[str, str] = {
    "event_transitions": f"""
        WITH j AS (
            SELECT user_id, event_type AS to_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS from_type
            FROM events
        ),
        t AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
            FROM j WHERE from_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n_trans,
               CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
                   AS n_from,
               CAST(({PPM} * n_trans) //
                    CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
                    AS BIGINT) AS prob_ppm
        FROM t
        ORDER BY from_type, to_type
    """,
}
