"""Daily audience decomposition.

``daily_new_vs_returning``: per activity day, how many distinct users
were active, how many were NEW (their first-ever event day is that
day), and how many were returning — the first-touch daily split every
retail/engagement dashboard leads with, and the batch complement of
``cohort_retention`` (which buckets by signup week; this one answers
"how much of today's traffic is acquisition vs retention").

Exactness: pure integer counting over exact date truncation (UTC
pinned by load_table; DuckDB casts the same naive timestamps), with
first-touch defined as MIN(day) per user — deterministic on both
engines.

Scale shape: two column-pruned events scans (user_id, ts only) — one
per side of the user-keyed join: the distinct (user, day) frame and
its per-user MIN first-touch rollup. The user-days frame is users ×
active-days sized, so it is deliberately NOT materialized to collapse
the second scan (the boilerplate_ngrams trade: recomputing a map-side
pass beats materializing a corpus-scale intermediate); both shuffles
key on the high-cardinality user, and nothing keys on the (tiny, hot)
day alone until the final days-sized aggregate. NULL user/ts rows are
excluded up front (a data-contract violation the validation tier
flags, not audience).

Reference scope: the reference's aggregation layer stops at grouped
sums over one table (src/transformers/aggregations.py); first-touch
decomposition is beyond-reference, analytics-tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


def q_daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_active_users, n_new_users, n_returning_users) per day."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first_day = user_days.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        user_days.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active_users"),
            F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("n_new_users"),
        )
        .select(
            # ISO-string day: engine-portable output (the driftq
            # discipline — DuckDB surfaces DATE differently in pandas)
            F.col("day").cast("string").alias("day"),
            "n_active_users",
            "n_new_users",
            (F.col("n_active_users") - F.col("n_new_users"))
            .cast("long")
            .alias("n_returning_users"),
        )
        .orderBy("day")
    )


QUERIES = {
    "daily_new_vs_returning": q_daily_new_vs_returning,
}

ORACLES: dict[str, str] = {
    "daily_new_vs_returning": """
        WITH user_days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        first_day AS (
            SELECT user_id, MIN(day) AS d0 FROM user_days GROUP BY user_id
        )
        SELECT CAST(u.day AS VARCHAR) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_active_users,
               CAST(SUM(CASE WHEN u.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new_users,
               CAST(COUNT(*)
                    - SUM(CASE WHEN u.day = f.d0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning_users
        FROM user_days u JOIN first_day f USING (user_id)
        GROUP BY u.day
        ORDER BY u.day
    """,
}
