"""Behavioral retail analytics — cohort retention and market-basket
affinity (driver correctness gate).

Beyond the reference's mart layer but standard retail-analytics
surface.

Cross-engine determinism: counts and integer month arithmetic
throughout; the two ratio outputs (retention_rate, lift) are each ONE
IEEE double op over exact integers, then rounded — no float
accumulation anywhere.

Plan notes (the 100 TB shapes):
* `cohort_retention`: first-seen week is a per-user MIN aggregate
  (partial-aggregated, uniform user_id shuffle), joined back to the
  user-week activity grid — two shuffles on user_id total, then a
  small (weeks²) aggregate. No window over the raw event stream.
* `basket_pairs`: the per-order self-join is bounded by basket size
  (≤ ~7 lineitems/order in TPC-H-like data, bounded by assortment
  behavior generally), so candidate pairs grow linearly with orders,
  never quadratically with the table; pair support then aggregates on
  the (a, b) key. Item-frequency side is part-cardinality-sized and
  joined twice by key (AQE free to broadcast it — it is NOT hinted,
  since the part dimension scales with SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .copurchase import pair_support

#: basket-pair report: minimum co-occurrence support
MIN_SUPPORT = 3
#: basket-pair report size
TOP_PAIRS = 100


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly repurchase-retention triangle: customers cohorted by
    first-PURCHASE week; for each (cohort week, weeks-since) offset, how
    many purchased again. Purchase cohorts + weekly grain on purpose:
    the synthetic events span one calendar month and every user has
    some activity from day 1, so monthly or any-event cohorts collapse
    to a single all-1.0 row and the oracle proves nothing — purchases
    are sparse enough to spread first-purchase weeks and decay the
    off-diagonals. A real deployment picks cohort event and grain to
    match its horizon the same way. weeks_since is exact integer
    arithmetic (day diff of week-aligned dates div 7)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
    )
    user_weeks = ev.distinct()
    first_seen = user_weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    cohort_sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    activity = (
        user_weeks.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        activity.join(cohort_sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            F.col("weeks_since").cast("int").alias("weeks_since"),
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                4,
            ).alias("retention_rate"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the TOP_PAIRS most frequently co-ordered
    part pairs with support ≥ MIN_SUPPORT and their lift
    (support·N / (freq_a·freq_b)). Pair mining is the SHARED
    plans/copurchase.pair_support materialization (one pass also feeds
    part_pagerank and copurchase_triangles); the self-join inside it is
    per-order (bounded basket), so candidates scale linearly with order
    count."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        pair_support(spark, sf_dir)
        .where(F.col("support") >= MIN_SUPPORT)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "support",
        )
    )
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    freq = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("freq"))
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("freq").alias("freq_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("freq").alias("freq_b")
    )
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .join(F.broadcast(n_orders), how="cross")
        .select(
            "part_a",
            "part_b",
            "support",
            "freq_a",
            "freq_b",
            F.round(
                (F.col("support").cast("double") * F.col("n_orders"))
                / (F.col("freq_a").cast("double") * F.col("freq_b").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(TOP_PAIRS)
    )


QUERIES = {
    "cohort_retention": q_cohort_retention,
    "basket_pairs": q_basket_pairs,
}

ORACLES: dict[str, str] = {
    "cohort_retention": """
        WITH user_weeks AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS week
            FROM events WHERE event_type = 'purchase'
        ),
        first_seen AS (
            SELECT user_id, MIN(week) AS cohort_week
            FROM user_weeks GROUP BY user_id
        ),
        cohort_sizes AS (
            SELECT cohort_week, COUNT(*) AS cohort_size
            FROM first_seen GROUP BY cohort_week
        ),
        activity AS (
            SELECT f.cohort_week,
                   datediff('day', f.cohort_week, u.week) // 7 AS weeks_since,
                   COUNT(*) AS n_active
            FROM user_weeks u JOIN first_seen f ON u.user_id = f.user_id
            GROUP BY f.cohort_week,
                     datediff('day', f.cohort_week, u.week) // 7
        )
        SELECT CAST(a.cohort_week AS TIMESTAMP) AS cohort_week,
               CAST(a.weeks_since AS INT) AS weeks_since,
               a.n_active, c.cohort_size,
               ROUND(CAST(a.n_active AS DOUBLE)
                     / CAST(c.cohort_size AS DOUBLE), 4) AS retention_rate
        FROM activity a JOIN cohort_sizes c ON a.cohort_week = c.cohort_week
        ORDER BY cohort_week, weeks_since
    """,
    "basket_pairs": f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS support
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        n AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
            FROM baskets
        ),
        freq AS (
            SELECT l_partkey, COUNT(*) AS freq FROM baskets GROUP BY l_partkey
        )
        SELECT p.part_a, p.part_b, p.support,
               fa.freq AS freq_a, fb.freq AS freq_b,
               ROUND((CAST(p.support AS DOUBLE) * n.n_orders)
                     / (CAST(fa.freq AS DOUBLE) * CAST(fb.freq AS DOUBLE)), 4)
                   AS lift
        FROM pairs p
        JOIN freq fa ON p.part_a = fa.l_partkey
        JOIN freq fb ON p.part_b = fb.l_partkey
        CROSS JOIN n
        ORDER BY p.support DESC, p.part_a, p.part_b
        LIMIT {TOP_PAIRS}
    """,
}
