"""CUSUM changepoint detection over daily event volumes.

``event_count_cusum``: per event type, the one-sided CUSUM statistic
over the DENSIFIED daily count series (zero-count days are exactly the
outage a volume monitor exists to see — the ``events_hourly_dense``
grid discipline) with slack k = ceil(mean daily count): alarm days,
max excursion, first alarm. The changepoint tier of the monitoring
stack — PSI/KS see distribution shifts, robust-MAD sees point
anomalies, the OLS trend sees gradual drift; CUSUM is the fast
detector for sustained LEVEL shifts (Page 1954), the standard
volume-drop/flood alarm.

Distribution trick: the recursion S_t = max(0, S_{t-1} + (x_t − k))
looks inherently sequential, but the closed form
S_t = P_t − least(0, min_{j≤t} P_j) over the prefix sums
P_t = Σ_{i≤t}(x_i − k) turns it into TWO ordinary window functions
(running sum, running min) per type partition — fully parallel across
types, and within a type the window is over the DAY-GRAIN series
(bounded by calendar length, not event volume), so a 100 TB corpus
still windows over thousands of rows per type. The identity is pinned
against the literal recursion computed independently in Python.

Exactness: counts and the integer slack ((total + n_days − 1) DIV
n_days) make every adjusted value, prefix sum, running min, and CUSUM
value an exact BIGINT on both engines; the alarm threshold h = k (one
average day of excess) is declared, not fitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table


def q_event_count_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, slack_k, max_cusum, n_alarm_days,
    first_alarm_day) per event type, ordered by type."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    # types × calendar-days rows — localCheckpoint so the span/grid/
    # dense consumers embed its VALUES instead of re-running the events
    # lineage per consumer (3 parquet scans → 1, audited; the outlierq
    # tiny-frame precedent)
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint()
    )
    span = daily.agg(
        F.min("day").alias("day_lo"), F.max("day").alias("day_hi")
    )
    # dense (type, day) grid: types × calendar days — zero-count days
    # surface as x = 0 (the outage case); grid size is time-bounded
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.expr("sequence(day_lo, day_hi)")).alias("day"),
        )
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"),
    ).withColumn(
        "k", F.expr("(total + n_days - 1) DIV n_days")
    ).localCheckpoint()  # ≤ n_types rows; embed values, don't re-derive
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusum = (
        dense.join(F.broadcast(stats), "event_type")
        .withColumn("p", F.sum(F.col("x") - F.col("k")).over(w_run))
        .withColumn(
            "s",
            F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w_run)),
        )
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("k").alias("slack_k"),
            F.max("s").cast("long").alias("max_cusum"),
            F.sum(F.when(F.col("s") > F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_alarm_days"),
            # ISO-string day (the driftq engine-portability discipline)
            F.min(F.when(F.col("s") > F.col("k"), F.col("day")))
            .cast("string")
            .alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )


QUERIES = {
    "event_count_cusum": q_event_count_cusum,
}

ORACLES: dict[str, str] = {
    "event_count_cusum": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        span AS (
            SELECT MIN(day) AS day_lo, MAX(day) AS day_hi FROM daily
        ),
        grid AS (
            SELECT t.event_type, CAST(u.d AS DATE) AS day
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN span s,
                 UNNEST(range(CAST(s.day_lo AS TIMESTAMP),
                              CAST(s.day_hi AS TIMESTAMP) + INTERVAL 1 DAY,
                              INTERVAL 1 DAY)) AS u(d)
        ),
        dense AS (
            SELECT g.event_type, g.day,
                   CAST(COALESCE(d.x, 0) AS BIGINT) AS x
            FROM grid g
            LEFT JOIN daily d
              ON g.event_type = d.event_type AND g.day = d.day
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS total,
                   CAST((SUM(x) + COUNT(*) - 1) // COUNT(*) AS BIGINT) AS k
            FROM dense GROUP BY event_type
        ),
        prefixed AS (
            SELECT d.event_type, d.day, s.n_days, s.k,
                   SUM(d.x - s.k) OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS p
            FROM dense d JOIN stats s USING (event_type)
        ),
        cusum AS (
            SELECT event_type, day, n_days, k,
                   p - LEAST(CAST(0 AS BIGINT),
                             MIN(p) OVER (
                                 PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW
                             )) AS cs
            FROM prefixed
        )
        SELECT event_type,
               MAX(n_days) AS n_days,
               MAX(k) AS slack_k,
               CAST(MAX(cs) AS BIGINT) AS max_cusum,
               CAST(SUM(CASE WHEN cs > k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_alarm_days,
               CAST(MIN(CASE WHEN cs > k THEN day END) AS VARCHAR)
                   AS first_alarm_day
        FROM cusum
        GROUP BY event_type
        ORDER BY event_type
    """,
}
