"""Headline analytical queries over the retail star schema.

The reference's analytics layer (dbt staging → marts feeding Snowflake
dashboards) is declared but stubbed (reference: dbt/ contains only
.gitkeep; config/pipelines/sample_pipeline.yaml:55-99 declares the
models). These queries implement the declared intent Spark-first:
broadcast joins for dimensions, partial aggregation before shuffle,
filters that push into the parquet scan.

Money sums use exact DECIMAL aggregation (functions/agg.py) so results
are independent of reduction order — identical under AQE re-planning and
bit-equal to the DuckDB oracle. Every computed column is aliased to the
oracle's name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.agg import exact_avg, exact_sum, money, ratio
from ..sources import load_table


def pricing_summary(spark: SparkSession, sf_dir: str, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-style pricing summary: one scan of lineitem, map-side
    partial aggs, tiny shuffle on (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = money(F.col("l_quantity"))
    price = money(F.col("l_extendedprice"))
    disc = ratio(F.col("l_discount"))
    tax = ratio(F.col("l_tax"))
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    return (
        li.where(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(qty).alias("sum_qty"),
            exact_sum(price).alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_avg(qty, 2).alias("avg_qty"),
            exact_avg(price, 2).alias("avg_price"),
            exact_avg(disc, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_segment(spark: SparkSession, sf_dir: str, since: str = "1996-01-01") -> DataFrame:
    """Flagship: revenue per market segment for orders after a watermark
    date. lineitem ⋈ orders shuffle on orderkey; the customer side is
    left unhinted — AQE broadcasts it at runtime when it is actually
    small, and falls back to shuffle join at 100 TB where a forced
    broadcast of a scale-growing table would OOM. The date filter pushes
    into the orders scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(since).cast("timestamp"))
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    revenue = money(F.col("l_extendedprice")) * (F.lit(1) - ratio(F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            exact_sum(revenue).alias("revenue"),
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.count_distinct("c_custkey").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


def top_customers(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Top-K customers by lifetime order value. Aggregate FIRST (shuffle
    on custkey), then join names (AQE sizes the join at runtime) — never
    sort the raw fact table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    by_cust = orders.groupBy("o_custkey").agg(
        exact_sum(money(F.col("o_totalprice"))).alias("total_spent"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        by_cust.join(cust, by_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spent", "n_orders")
        .orderBy(F.desc("total_spent"), "c_custkey")
        .limit(k)
    )


def order_priority_counts(
    spark: SparkSession, sf_dir: str, lo: str = "1996-01-01", hi: str = "1997-01-01"
) -> DataFrame:
    """TPC-H Q4-flavored: orders in a date range that have at least one
    lineitem — existence via left-semi join (no row multiplication)."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation/region: the full dimension chain. nation/region
    carry explicit broadcast hints (bounded cardinality: 25/5 rows at ANY
    scale factor); the customer-derived dim is unhinted — scale-growing
    sides are AQE's runtime decision."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            exact_sum(money(F.col("o_totalprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


def promo_revenue(
    spark: SparkSession, sf_dir: str, lo: str = "1997-09-01", hi: str = "1997-10-01"
) -> DataFrame:
    """TPC-H Q14-flavored: share of revenue from PROMO parts in one month.
    The date filter pushes into the lineitem scan; part (scale-growing)
    is unhinted so AQE broadcasts it only while it fits. The final agg is
    a single row."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = money(F.col("l_extendedprice")) * (F.lit(1) - ratio(F.col("l_discount")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(money(F.lit(0)))).cast("double")
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_revenue_pct"),
        exact_sum(rev).alias("total_revenue"),
    )


def top_suppliers(
    spark: SparkSession, sf_dir: str, lo: str = "1997-01-01", hi: str = "1997-04-01", k: int = 10
) -> DataFrame:
    """TPC-H Q15-flavored: top-K suppliers by quarterly revenue. Aggregate
    lineitem on suppkey FIRST (small shuffle), rank with a window over the
    tiny aggregate, then join supplier names (AQE-sized)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = money(F.col("l_extendedprice")) * (F.lit(1) - ratio(F.col("l_discount")))
    by_supp = li.groupBy("l_suppkey").agg(exact_sum(rev).alias("total_revenue"))
    ranked = by_supp.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.desc("total_revenue"), F.asc("l_suppkey"))
        ),
    ).where(F.col("rk") <= k)
    return (
        ranked.join(supp, ranked.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue", "rk")
        .orderBy("rk")
    )


def brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-flavored: per-brand part counts, distinct types/sizes,
    distinct suppliers observed in lineitem. The fact-side distinct rides
    a broadcast join of part into lineitem, then one shuffle on brand."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    per_brand = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.count_distinct("p_type").alias("n_types"),
        F.count_distinct("p_size").alias("n_sizes"),
        F.round(F.avg(money(F.col("p_retailprice")).cast("double")), 4).alias(
            "avg_retail_price"
        ),
    )
    supp_per_brand = (
        li.join(
            part.select("p_partkey", "p_brand"),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )
    return (
        per_brand.join(supp_per_brand, "p_brand", "left")
        .orderBy("p_brand")
    )


def returned_revenue_by_customer(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """TPC-H Q10-flavored: top-K customers by revenue on returned items.
    The returnflag filter pushes into the lineitem scan; aggregate on
    custkey first, then broadcast-join names."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    rev = money(F.col("l_extendedprice")) * (F.lit(1) - ratio(F.col("l_discount")))
    by_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(exact_sum(rev).alias("returned_revenue"))
    )
    return (
        by_cust.join(cust, by_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "returned_revenue")
        .orderBy(F.desc("returned_revenue"), "c_custkey")
        .limit(k)
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-flavored: average yearly revenue lost if orders below
    20% of a part's mean quantity were dropped. The correlated scalar
    subquery becomes an aggregate + equi-join (no per-row subquery
    execution — the Spark/decorrelated form)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # mean from the exact decimal sum (order-independent) — a plain AVG
    # over doubles is reduction-order sensitive and the 0.2×avg threshold
    # sits on row-inclusion boundaries
    avg_qty = li.groupBy("l_partkey").agg(
        (
            F.sum(money(F.col("l_quantity"))).cast("double")
            / F.count(F.col("l_quantity"))
        ).alias("avg_qty")
    )
    j = li.join(avg_qty, "l_partkey").where(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return j.agg(
        F.round(
            (F.sum(money(F.col("l_extendedprice"))) / F.lit(7)).cast("double"), 2
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lineitems"),
    )


def large_orders(
    spark: SparkSession, sf_dir: str, min_qty: float = 150.0, k: int = 20
) -> DataFrame:
    """TPC-H Q18-flavored: orders whose total lineitem quantity exceeds a
    threshold (HAVING over a big groupBy), joined to customer names.
    Aggregate-then-filter keeps the shuffle payload to (orderkey, sum)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum(money(F.col("l_quantity"))).alias("total_qty"))
        .where(F.col("total_qty") > min_qty)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(k)
    )


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation → total revenue ROLLUP: one pass produces every
    aggregation level (Spark expands grouping sets inside the same
    shuffle — no per-level re-scan). NULL group keys mark subtotal rows,
    exposed via grouping() flags for unambiguous downstream handling."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .rollup("r_name", "n_name")
        .agg(
            exact_sum(money(F.col("o_totalprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("r_name").cast("int").alias("is_region_total"),
            F.grouping("n_name").cast("int").alias("is_nation_total"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


def event_anomalies(
    spark: SparkSession, sf_dir: str, z_threshold: float = 1.5
) -> DataFrame:
    """Hourly event-count anomaly detection: hours whose count deviates
    ≥ z_threshold stddevs from that event type's mean hourly volume.
    Two-level aggregation: hourly rollup (one shuffle), then per-type
    stats via window aggregates over the tiny hourly table. Mean/std are
    derived from exact integer Σn and Σn² so the z-scores are
    bit-deterministic and oracle-comparable (no stream-order float
    reduction)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = W.partitionBy("event_type")
    n = F.col("n_events").cast("double")
    s1 = F.sum("n_events").over(w).cast("double")
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("double")
    k = F.count(F.lit(1)).over(w).cast("double")
    mean = s1 / k
    std = F.sqrt((s2 - s1 * s1 / k) / (k - F.lit(1.0)))
    z = F.round((n - mean) / std, 4)
    return (
        hourly.withColumn("z_score", z)
        .where(F.abs(F.col("z_score")) >= z_threshold)
        .select("hour_start", "event_type", "n_events", "z_score")
        .orderBy("event_type", "hour_start")
    )


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (SURVEY §2.9: the reference carries JSON
    as strings and parses on demand — validators.py:261-267,
    sensors.py:433-445): dot-path extraction with `get_json_object`,
    validity via `from_json` null-on-fail, aggregated per event type.
    All JVM-side; at scale the JSON parse is the scan-time cost and
    everything after is a tiny shuffle."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    parsed = F.from_json(F.col("props"), "k LONG")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.sum(
                F.when(F.col("props").isNotNull() & parsed.isNull(), 1).otherwise(0)
            ).alias("n_invalid_json"),
        )
        .orderBy("event_type")
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation over the events table — the
    batch twin of the streaming windowed agg (streaming/ingest.py); at
    100 TB this is a partial-agg + single shuffle on (hour, type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(money(F.col("value"))).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("hour_start", "event_type")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-flavored: distribution of customers by order count,
    INCLUDING zero-order customers (the left outer join is the point —
    an inner join silently drops the biggest bucket). Two-level
    aggregation: per-customer counts (shuffle on custkey), then the
    tiny distribution rollup."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def supplier_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-flavored (no partsupp table in this schema, so revenue
    stands in for profit): net revenue by supplier nation and order
    year. lineitem joins orders (year) and the bounded supplier→nation
    chain; aggregation keyed on (nation, year) after partial map-side
    combine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    rev = money(F.col("l_extendedprice")) * (F.lit(1) - ratio(F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            exact_sum(rev).alias("profit"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


QUERIES = {
    "pricing_summary": pricing_summary,
    "revenue_by_segment": revenue_by_segment,
    "top_customers": top_customers,
    "order_priority_counts": order_priority_counts,
    "nation_revenue": nation_revenue,
    "promo_revenue": promo_revenue,
    "top_suppliers": top_suppliers,
    "brand_stats": brand_stats,
    "events_props_stats": events_props_stats,
    "event_anomalies": event_anomalies,
    "customer_order_distribution": customer_order_distribution,
    "supplier_nation_profit": supplier_nation_profit,
    "revenue_rollup": revenue_rollup,
    "returned_revenue_by_customer": returned_revenue_by_customer,
    "small_quantity_revenue": small_quantity_revenue,
    "large_orders": large_orders,
    "events_hourly": events_hourly,
}

#: DuckDB twins, same names; float aggregates are ROUNDed exactly as
#: the Spark side rounds them
ORACLES: dict[str, str] = {
    "pricing_summary": """
            WITH t AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                       CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                       CAST(l_discount AS DECIMAL(4,2)) AS disc,
                       CAST(l_tax AS DECIMAL(4,2)) AS tax
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(qty), 2) AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(price), 2) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(price * (1 - disc)), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(ROUND(SUM(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE) AS sum_charge,
                   ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(qty), 2) AS avg_qty,
                   ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(price), 2) AS avg_price,
                   ROUND(CAST(SUM(disc) AS DOUBLE) / COUNT(disc), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM t
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
    "revenue_by_segment": """
            SELECT c.c_mktsegment,
                   CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                  * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                        AS DOUBLE) AS revenue,
                   COUNT(DISTINCT o.o_orderkey) AS n_orders,
                   COUNT(DISTINCT c.c_custkey) AS n_customers
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
            GROUP BY c.c_mktsegment
            ORDER BY c.c_mktsegment
        """,
    "top_customers": """
            SELECT c.c_custkey, c.c_name,
                   CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS total_spent,
                   COUNT(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_name
            ORDER BY total_spent DESC, c.c_custkey
            LIMIT 10
        """,
    "order_priority_counts": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
    "nation_revenue": """
            SELECT r.r_name, n.n_name,
                   CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
            ORDER BY r.r_name, n.n_name
        """,
    "promo_revenue": """
            SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                           THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                       4) AS promo_revenue_pct,
                   CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                        AS DOUBLE) AS total_revenue
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
              AND l.l_shipdate < TIMESTAMP '1997-10-01'
        """,
    "top_suppliers": """
            WITH by_supp AS (
                SELECT l_suppkey,
                       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                            AS DOUBLE) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY l_suppkey
            ),
            ranked AS (
                SELECT l_suppkey, total_revenue,
                       CAST(row_number() OVER (ORDER BY total_revenue DESC,
                                               l_suppkey) AS INT) AS rk
                FROM by_supp
            )
            SELECT s.s_suppkey, s.s_name, r.total_revenue, r.rk
            FROM ranked r JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.rk <= 10
            ORDER BY r.rk
        """,
    "brand_stats": """
            WITH per_brand AS (
                SELECT p_brand, COUNT(*) AS n_parts,
                       COUNT(DISTINCT p_type) AS n_types,
                       COUNT(DISTINCT p_size) AS n_sizes,
                       ROUND(AVG(CAST(CAST(p_retailprice AS DECIMAL(12,2))
                                      AS DOUBLE)), 4) AS avg_retail_price
                FROM part GROUP BY p_brand
            ),
            supp_per_brand AS (
                SELECT p.p_brand,
                       COUNT(DISTINCT l.l_suppkey) AS n_suppliers
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY p.p_brand
            )
            SELECT b.p_brand, b.n_parts, b.n_types, b.n_sizes,
                   b.avg_retail_price, s.n_suppliers
            FROM per_brand b LEFT JOIN supp_per_brand s
              ON b.p_brand = s.p_brand
            ORDER BY b.p_brand
        """,
    "events_props_stats": """
            -- CAST(SUM(...) AS BIGINT): DuckDB SUM(BIGINT) yields HUGEINT,
            -- which pandas renders as float64 and the driver's value hash
            -- would then see 99111.0 vs Spark's 99111 (the r01 red cell).
            -- "invalid JSON" is defined on BOTH sides as "not parseable as
            -- a JSON object": Spark from_json(props, struct) is NULL exactly
            -- for non-object / malformed input, mirrored here via
            -- json_valid + json_type = 'OBJECT'.
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
                       AS avg_k,
                   MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   COUNT(CASE WHEN props IS NOT NULL AND
                              (NOT json_valid(props)
                               OR json_type(props) <> 'OBJECT')
                         THEN 1 END) AS n_invalid_json
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
    "event_anomalies": """
            WITH hourly AS (
                SELECT date_trunc('hour', ts) AS hour_start, event_type,
                       COUNT(*) AS n_events
                FROM events
                GROUP BY 1, 2
            ),
            stats AS (
                SELECT hour_start, event_type, n_events,
                       CAST(SUM(n_events) OVER w AS DOUBLE) AS s1,
                       CAST(SUM(n_events * n_events) OVER w AS DOUBLE) AS s2,
                       CAST(COUNT(*) OVER w AS DOUBLE) AS k
                FROM hourly
                WINDOW w AS (PARTITION BY event_type)
            )
            , scored AS (
                SELECT CAST(hour_start AS TIMESTAMP) AS hour_start, event_type,
                       n_events,
                       ROUND((CAST(n_events AS DOUBLE) - s1 / k)
                             / sqrt((s2 - s1 * s1 / k) / (k - 1.0)), 4) AS z_score
                FROM stats
            )
            SELECT * FROM scored
            WHERE abs(z_score) >= 1.5
            ORDER BY event_type, hour_start
        """,
    "customer_order_distribution": """
            WITH per_cust AS (
                SELECT c.c_custkey, COUNT(o.o_custkey) AS n_orders
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            SELECT n_orders, COUNT(*) AS n_customers
            FROM per_cust
            GROUP BY n_orders
            ORDER BY n_customers DESC, n_orders DESC
        """,
    "supplier_nation_profit": """
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INT) AS o_year,
                   CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                        AS DOUBLE) AS profit,
                   COUNT(*) AS n_lineitems
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name, year(o.o_orderdate)
            ORDER BY nation, o_year DESC
        """,
    "revenue_rollup": """
            WITH j AS (
                SELECT r.r_name, n.n_name, o.o_totalprice
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
            )
            SELECT r_name, n_name,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS revenue,
                   COUNT(*) AS n_orders,
                   CAST(GROUPING(r_name) AS INT) AS is_region_total,
                   CAST(GROUPING(n_name) AS INT) AS is_nation_total
            FROM j
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
        """,
    "returned_revenue_by_customer": """
            WITH by_cust AS (
                SELECT o.o_custkey,
                       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                            AS DOUBLE) AS returned_revenue
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE l.l_returnflag = 'R'
                GROUP BY o.o_custkey
            )
            SELECT c.c_custkey, c.c_name, c.c_mktsegment, b.returned_revenue
            FROM by_cust b JOIN customer c ON b.o_custkey = c.c_custkey
            ORDER BY b.returned_revenue DESC, c.c_custkey
            LIMIT 20
        """,
    "small_quantity_revenue": """
            WITH avg_qty AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                           / COUNT(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey
            )
            SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                              AS DOUBLE) / 7, 2) AS avg_yearly,
                   COUNT(*) AS n_small_lineitems
            FROM lineitem l
            JOIN avg_qty a ON l.l_partkey = a.l_partkey
            WHERE l.l_quantity < 0.2 * a.avg_qty
        """,
    "large_orders": """
            WITH big AS (
                SELECT l_orderkey,
                       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2)
                            AS DOUBLE) AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2)
                            AS DOUBLE) > 150.0
            )
            SELECT c.c_custkey, c.c_name, o.o_orderkey,
                   CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
                   ROUND(o.o_totalprice, 2) AS total_price,
                   b.total_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY b.total_qty DESC, o.o_orderkey
            LIMIT 20
        """,
    "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
            ORDER BY hour_start, event_type
        """,
}
