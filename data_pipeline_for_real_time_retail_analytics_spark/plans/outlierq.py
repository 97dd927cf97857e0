"""Robust outlier detection over event values.

``robust_outlier_events``: per event type, the median / MAD (median
absolute deviation) robust location-scale pair and the count of values
deviating more than 3 MAD from the median — the outlier monitor a
quality gate runs on metric streams where mean/stddev are themselves
corrupted by the outliers they are supposed to find (one fat-fingered
1e9 value shifts a z-score gate's own baseline; it cannot shift a
median). Complements the distribution-shape monitors (PSI/KS in
plans/driftq.py) with a point-anomaly view.

Exactness: medians are exact interpolated percentiles — Spark
``percentile`` and DuckDB ``quantile_cont`` compute the same
``lo + frac · (hi − lo)`` on the same sorted doubles, bit for bit
(established by the r5 ``price_quantiles`` pair and re-verified for
this module's two-level use in tests). Deviations are single IEEE
subtract/abs ops on exact inputs; the 3·MAD threshold is one exact
double multiply; counts and floor-ppm rates are integers.

Scale shape: three partial-aggregated passes over events (values →
medians, deviations → MADs, deviations → outlier counts), each
shuffling only ≤ n_event_types rows; the tiny per-type frames join
back broadcast. At 100 TB the exact two-level percentile is the
audit-grade path; the one-pass production monitor swaps in
``approx_percentile`` (the repo's approx tier precedent is
plans/approxq.py) without changing the query shape.

Reference scope: the reference validates ranges with static min/max
rules (src/quality/data_quality.py range checks); this is the
data-derived robust version of the same gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

#: deviations beyond ``K_MAD`` MADs from the median count as outliers
K_MAD = 3


def q_robust_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_values, median_value, mad, n_outliers,
    outlier_ppm) per event type, ascending type."""
    vals = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    # the ≤ n_event_types-row med/mad frames are localCheckpointed so the
    # downstream joins embed their VALUES instead of re-deriving their
    # whole events lineage — without this the final three-way join
    # expands to 14 parquet scans of events (plan-audited); with it the
    # query is the honest 3-scan minimum for exact two-level percentiles
    med = vals.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    ).localCheckpoint()
    dev = vals.join(F.broadcast(med), "event_type").select(
        "event_type", "value", F.abs(F.col("value") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    ).localCheckpoint()
    flagged = dev.join(F.broadcast(mad), "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum(
            F.when(F.col("d") > F.lit(float(K_MAD)) * F.col("mad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return (
        flagged.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "n_values",
            F.col("med").alias("median_value"),
            "mad",
            "n_outliers",
            F.expr("CAST((1000000 * n_outliers) DIV n_values AS BIGINT)").alias(
                "outlier_ppm"
            ),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )


QUERIES = {
    "robust_outlier_events": q_robust_outlier_events,
}

ORACLES: dict[str, str] = {
    "robust_outlier_events": f"""
        WITH vals AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
        ),
        med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM vals GROUP BY event_type
        ),
        dev AS (
            SELECT v.event_type, abs(v.value - m.med) AS d
            FROM vals v JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY event_type
        ),
        flagged AS (
            SELECT d.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_values,
                   CAST(SUM(CASE WHEN d.d > {K_MAD}.0 * m.mad
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev d JOIN mad m USING (event_type)
            GROUP BY d.event_type
        )
        SELECT f.event_type, f.n_values,
               m.med AS median_value, a.mad,
               f.n_outliers,
               CAST((1000000 * f.n_outliers) // f.n_values AS BIGINT)
                   AS outlier_ppm
        FROM flagged f
        JOIN med m USING (event_type)
        JOIN mad a USING (event_type)
        ORDER BY f.event_type NULLS FIRST
    """,
}
