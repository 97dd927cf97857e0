"""Distribution profiling, funnel, and window-frame queries.

Extends the validation/profile surface (plans/validation.py, reference:
src/ingestion/extractors.py:252-262 — mean/std/min/max only) with the
distribution-grade profiles a retail-analytics warehouse actually runs:
exact grouped quantiles, a multi-stage conversion funnel, and running
per-customer aggregates under an explicit window frame. Each query has a
DuckDB oracle in ``ORACLES`` (wired via __spark_entry__.oracle_sql()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.agg import money
from ..operators.quality import grouped_quantiles
from ..sources import load_table


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles (+p99) of extended price per return flag
    (operators/quality.py:grouped_quantiles). One shuffle on the 3-value
    flag key; exact interpolated percentiles match DuckDB's
    ``quantile_cont`` bit-for-bit, so the profile is value-checked, not
    tolerance-checked."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    out = grouped_quantiles(
        li,
        "l_extendedprice",
        keys=["l_returnflag"],
        probs=(0.25, 0.5, 0.75, 0.99),
        extra_aggs={
            "n_rows": F.count(F.lit(1)),
            "price_min": F.round(F.min("l_extendedprice"), 2),
            "price_max": F.round(F.max("l_extendedprice"), 2),
        },
    )
    return out.select(
        "l_returnflag",
        F.round("q25", 4).alias("q25"),
        F.round("q50", 4).alias("q50"),
        F.round("q75", 4).alias("q75"),
        F.round("q99", 4).alias("q99"),
        "n_rows",
        "price_min",
        "price_max",
    ).orderBy("l_returnflag")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel view → click → purchase: per user, the first
    view, the first click strictly after it, the first purchase strictly
    after that; then one global rollup of stage survivors.

    Shape: one shuffle on user_id. The three stage minimums are stacked
    whole-partition windows over ``partitionBy("user_id")`` (each stage
    is bounded by the one before), so they share that exchange and its
    sort; the per-user aggregate reuses the partitioning, and the global
    count is one partial-aggregated row. No joins, no driver-side count
    action.

    A null user_id keeps the oracle's meaning: its group counts toward
    ``n_view`` (GROUP BY keeps it) but never toward a later stage (the
    oracle's JOIN on user_id drops it), and ``n_users`` is
    COUNT(DISTINCT user_id).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    by_user = W.partitionBy("user_id")

    def first(event_type: str, after: str | None = None):
        hit = F.col("event_type") == event_type
        if after is not None:
            hit = hit & F.col("user_id").isNotNull() & (F.col("ts") > F.col(after))
        return F.min(F.when(hit, F.col("ts"))).over(by_user)

    per_user = (
        ev.withColumn("view_ts", first("view"))
        .withColumn("click_ts", first("click", after="view_ts"))
        .withColumn("purchase_ts", first("purchase", after="click_ts"))
        .groupBy("user_id")
        .agg(
            # a view with a null ts still makes its user a viewer
            F.bool_or(F.col("event_type") == "view").alias("viewed"),
            F.max("click_ts").isNotNull().alias("clicked"),
            F.max("purchase_ts").isNotNull().alias("purchased"),
        )
    )
    stages = per_user.agg(
        F.count("user_id").alias("n_users"),
        F.count_if("viewed").alias("n_view"),
        F.count_if("clicked").alias("n_view_click"),
        F.count_if("purchased").alias("n_view_click_purchase"),
    )
    return stages.select(
        "n_users",
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        # try_divide: an empty ingest window (or a stage with zero
        # survivors) must yield NULL rates, not an ANSI DIVIDE_BY_ZERO
        # crash — identical values whenever the divisor is non-zero, so
        # the DuckDB oracle (which never sees the empty case at the
        # driver's SF) is unaffected
        F.round(F.try_divide(F.col("n_view"), F.col("n_users")), 4).alias(
            "view_rate"
        ),
        F.round(
            F.try_divide(F.col("n_view_click"), F.col("n_view")), 4
        ).alias("click_rate"),
        F.round(
            F.try_divide(F.col("n_view_click_purchase"), F.col("n_view_click")),
            4,
        ).alias("purchase_rate"),
    )


def q_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend over their order history (running
    DECIMAL sum + order sequence number under an explicit
    ROWS UNBOUNDED PRECEDING frame), thinned to every 50th customer to
    bound the output. The customer filter sits BEFORE the window, so it
    pushes into the orders scan and prunes whole partitions of the
    window key; one shuffle on custkey serves both window functions."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    thin = orders.where(F.col("o_custkey") % 50 == 0)
    order_cols = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_frame = (
        W.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_seq = W.partitionBy("o_custkey").orderBy(*order_cols)
    return thin.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("order_date"),
        F.round(money(F.col("o_totalprice")), 2).cast("double").alias("order_total"),
        F.row_number().over(w_seq).alias("order_seq"),
        F.round(F.sum(money(F.col("o_totalprice"))).over(w_frame), 2)
        .cast("double")
        .alias("running_spend"),
    ).orderBy("customer_id", "order_seq")


def q_segment_year_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment × order-year revenue matrix via ``pivot`` with an
    EXPLICIT value list — the wide-format reshape every BI export needs.
    Naming the pivot values matters twice: Catalyst skips the extra
    distinct-scan it otherwise runs to discover them, and the output
    schema is static (a 100 TB job cannot let data content decide its
    column count). One shuffle on the 5-value segment key; the year
    columns are CASE-filtered partial aggregates."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    years = [1995, 1996, 1997, 1998]
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.year("o_orderdate").alias("o_year"),
        money(F.col("o_totalprice")).alias("price"),
    )
    # no pre-group year filter: pivot with an explicit value list
    # already routes out-of-list years to no column, and filtering
    # before the groupBy would DROP a segment whose orders all fall
    # outside the pivot years — the oracle (and the right answer)
    # keeps that segment with all-NULL revenue columns
    wide = (
        j.groupBy("c_mktsegment")
        .pivot("o_year", years)
        .agg(F.round(F.sum("price"), 2).cast("double"))
    )
    return wide.select(
        "c_mktsegment",
        *[F.col(str(y)).alias(f"rev_{y}") for y in years],
    ).orderBy("c_mktsegment")


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all four grouping
    combinations — full detail, per-type totals, per-hour totals, grand
    total — in ONE pass with grouping flags (the multi-grain companion
    to revenue_rollup's hierarchy). Spark expands the cube map-side and
    partial-aggregates each grain before the single shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day"), "value"
    )
    return (
        ev.cube("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money(F.col("value"))), 2)
            .cast("double")
            .alias("sum_value"),
            F.grouping("event_type").cast("int").alias("is_type_total"),
            F.grouping("hour_of_day").cast("int").alias("is_hour_total"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(),
            F.col("hour_of_day").asc_nulls_first(),
        )
    )


def q_events_hourly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series for a sparse event slice (high-value
    purchases): every hour between the series' min and max appears, with
    zeros and an ``is_gap`` flag where no event landed — the
    densification every downstream charting/forecasting consumer needs.

    Spark-first generator: the hour grid comes from ``sequence()`` over
    a one-row min/max aggregate, exploded — grid size is time-span /
    step, independent of event volume, and nothing touches the driver.
    The left join back to the hourly aggregate is broadcast-eligible
    (both sides are grid-sized, not data-sized) at any corpus scale."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 45))
        .select(F.date_trunc("hour", F.col("ts")).alias("hour_start"), "value")
    )
    hourly = ev.groupBy("hour_start").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(money(F.col("value"))), 2).cast("double").alias("s"),
    )
    bounds = ev.agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    return (
        grid.join(hourly, "hour_start", "left")
        .select(
            "hour_start",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("s"), F.lit(0.0)).alias("sum_value"),
            F.col("n").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("hour_start")
    )


QUERIES = {
    "price_quantiles": q_price_quantiles,
    "event_funnel": q_event_funnel,
    "customer_running_spend": q_customer_running_spend,
    "segment_year_pivot": q_segment_year_pivot,
    "events_cube": q_events_cube,
    "events_hourly_dense": q_events_hourly_dense,
}

ORACLES: dict[str, str] = {
    "events_hourly_dense": """
        WITH ev AS (
            SELECT date_trunc('hour', ts) AS hs, value
            FROM events
            WHERE event_type = 'purchase' AND value > 45
        ),
        hourly AS (
            SELECT hs, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                       AS s
            FROM ev GROUP BY hs
        ),
        b AS (SELECT MIN(hs) AS lo, MAX(hs) AS hi FROM ev),
        grid AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                       AS hour_start
            FROM b
        )
        SELECT g.hour_start,
               COALESCE(h.n, 0) AS n_events,
               COALESCE(h.s, 0.0) AS sum_value,
               CAST(h.n IS NULL AS INT) AS is_gap
        FROM grid g LEFT JOIN hourly h ON g.hour_start = h.hs
        ORDER BY g.hour_start
    """,
    "price_quantiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
               ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS q99,
               COUNT(*) AS n_rows,
               ROUND(MIN(l_extendedprice), 2) AS price_min,
               ROUND(MAX(l_extendedprice), 2) AS price_max
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "event_funnel": """
        WITH fv AS (
            SELECT user_id, MIN(ts) AS view_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        fc AS (
            SELECT e.user_id, MIN(e.ts) AS click_ts
            FROM events e JOIN fv ON e.user_id = fv.user_id
            WHERE e.event_type = 'click' AND e.ts > fv.view_ts
            GROUP BY e.user_id
        ),
        fp AS (
            SELECT e.user_id, MIN(e.ts) AS purchase_ts
            FROM events e JOIN fc ON e.user_id = fc.user_id
            WHERE e.event_type = 'purchase' AND e.ts > fc.click_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
               (SELECT COUNT(*) FROM fv) AS n_view,
               (SELECT COUNT(*) FROM fc) AS n_view_click,
               (SELECT COUNT(*) FROM fp) AS n_view_click_purchase,
               ROUND((SELECT COUNT(*) FROM fv)
                     / (SELECT COUNT(DISTINCT user_id) FROM events), 4)
                   AS view_rate,
               ROUND((SELECT COUNT(*) FROM fc)
                     / (SELECT COUNT(*) FROM fv), 4) AS click_rate,
               ROUND((SELECT COUNT(*) FROM fp)
                     / (SELECT COUNT(*) FROM fc), 4) AS purchase_rate
    """,
    "segment_year_pivot": """
        WITH j AS (
            SELECT c.c_mktsegment,
                   year(o.o_orderdate) AS o_year,
                   CAST(o.o_totalprice AS DECIMAL(12,2)) AS price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment,
               CAST(ROUND(SUM(CASE WHEN o_year = 1995 THEN price END), 2)
                    AS DOUBLE) AS rev_1995,
               CAST(ROUND(SUM(CASE WHEN o_year = 1996 THEN price END), 2)
                    AS DOUBLE) AS rev_1996,
               CAST(ROUND(SUM(CASE WHEN o_year = 1997 THEN price END), 2)
                    AS DOUBLE) AS rev_1997,
               CAST(ROUND(SUM(CASE WHEN o_year = 1998 THEN price END), 2)
                    AS DOUBLE) AS rev_1998
        FROM j
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "events_cube": """
        SELECT event_type,
               hour(ts) AS hour_of_day,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS sum_value,
               CAST(GROUPING(event_type) AS INT) AS is_type_total,
               CAST(GROUPING(hour(ts)) AS INT) AS is_hour_total
        FROM events
        GROUP BY CUBE (event_type, hour(ts))
        ORDER BY event_type NULLS FIRST, hour_of_day NULLS FIRST
    """,
    "customer_running_spend": """
        SELECT o_custkey AS customer_id,
               o_orderkey AS order_id,
               CAST(o_orderdate AS TIMESTAMP) AS order_date,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE)
                   AS order_total,
               CAST(row_number() OVER w AS INT) AS order_seq,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
                   AS running_spend
        FROM orders
        WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY customer_id, order_seq
    """,
}
