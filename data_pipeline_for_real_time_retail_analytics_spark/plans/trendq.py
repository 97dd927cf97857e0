"""Per-segment revenue trend (exact OLS slope).

``revenue_trend_by_segment``: the least-squares slope of daily order
revenue against the day index, per market segment — the trend tier of
the monitoring stack: PSI/KS say the DISTRIBUTION moved, the robust
outlier pair says a POINT is wrong, this says the LEVEL is drifting
and how fast (cents per day), which is the alert a revenue SLO pages
on.

Exactness (the micro-unit rule applied to regression): revenue is
quantized to BIGINT cents per order (floor(p·100 + 0.5)); the day
index is an exact integer datediff from the global minimum day; all
five OLS sums (n, Σx, Σy, Σxy, Σx²) are exact integers —
DECIMAL(38,0) ↔ HUGEINT for the products, which overflow BIGINT at
100 TB revenue volumes — and the closed-form slope
(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) does exact integer numerator /
denominator first, then ONE double division, rounded to 6 dp on both
engines. A single-day segment has denominator 0 → NULL slope (pinned).

Scale shape: one orders scan partial-aggregated to (segment, day)
cents — the shuffle is segments × days rows regardless of order
volume; the OLS pass is a second tiny aggregate over that frame; the
global min-day scalar joins back broadcast. customer joins in under
AQE's size decision (no static broadcast hint — the r1 OOM lesson).

Reference scope: the reference's aggregation tier stops at grouped
sums (src/transformers/aggregations); trend extraction is
beyond-reference, monitoring-tier mandated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


def q_revenue_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_mktsegment, n_days, total_cents, slope_cents_per_day) per
    segment, ordered by segment (NULLs first, the repo discipline)."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_mktsegment",
            F.to_date("o_orderdate").alias("day"),
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("c_mktsegment", "day")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    min_day = daily.agg(F.min("day").alias("day0"))
    xy = daily.crossJoin(F.broadcast(min_day)).select(
        "c_mktsegment",
        F.datediff("day", "day0").cast("long").alias("x"),
        "y",
    )
    sums = xy.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    return sums.select(
        "c_mktsegment",
        "n_days",
        F.col("sy").cast("long").alias("total_cents"),
        F.round(
            F.expr(
                """
                CAST(CAST(n_days AS DECIMAL(38,0)) * sxy
                     - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / CAST(nullif(CAST(n_days AS DECIMAL(38,0)) * sxx
                              - CAST(sx AS DECIMAL(38,0)) * sx,
                              CAST(0 AS DECIMAL(38,0))) AS DOUBLE)
                """
            ),
            6,
        ).alias("slope_cents_per_day"),
    ).orderBy(F.col("c_mktsegment").asc_nulls_first())


QUERIES = {
    "revenue_trend_by_segment": q_revenue_trend_by_segment,
}

ORACLES: dict[str, str] = {
    "revenue_trend_by_segment": """
        WITH daily AS (
            SELECT c.c_mktsegment,
                   CAST(o.o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS y
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice IS NOT NULL AND o.o_orderdate IS NOT NULL
            GROUP BY c.c_mktsegment, CAST(o.o_orderdate AS DATE)
        ),
        xy AS (
            SELECT c_mktsegment,
                   CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                        AS BIGINT) AS x,
                   y
            FROM daily
        ),
        sums AS (
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   SUM(CAST(y AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx
            FROM xy GROUP BY c_mktsegment
        )
        SELECT c_mktsegment,
               n_days,
               CAST(sy AS BIGINT) AS total_cents,
               ROUND(CAST(CAST(n_days AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(nullif(CAST(n_days AS HUGEINT) * sxx
                                   - CAST(sx AS HUGEINT) * sx,
                                   CAST(0 AS HUGEINT)) AS DOUBLE),
                     6) AS slope_cents_per_day
        FROM sums
        ORDER BY c_mktsegment NULLS FIRST
    """,
}
