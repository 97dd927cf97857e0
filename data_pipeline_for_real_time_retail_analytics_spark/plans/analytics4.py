"""Order-fulfilment analytics — the remaining classic TPC-H shapes
(Q3/Q6/Q12/Q19/Q21 analogs) re-expressed on this schema's columns
(driver correctness gate).

Reference parity: extends the reference's declared report layer
(the dbt staging/mart models in
config/pipelines/sample_pipeline.yaml:55-99; the model SQL itself is
empty scaffolding) with the shipping-
priority / forecast / late-shipment / disjunctive-predicate / waiting-
supplier reports. This schema carries no o_shippriority, l_shipmode,
l_commitdate/l_receiptdate or p_container, so: Q3 ranks by
o_orderpriority context, Q12's ship modes become shipping-delay buckets
(datediff(o_orderdate → l_shipdate)), Q19 disjoins over
brand/size/quantity, and Q21's "kept the order waiting" is
ship-delay > WAIT_DAYS on F-status orders.

Cross-engine determinism rules (shared with analytics2/3): money sums
as DECIMAL(12,2), rounds, THEN casts double; rankings/limits order by
the exact decimal plus an id tiebreak; discounts are discrete 0.01
steps so double-literal boundary compares are engine-stable.

Plan notes (the 100 TB shapes):
* every date predicate sits directly on its scan (parquet row-group /
  partition pruning); Q19's OR-of-ANDs leaves the part-side conjuncts
  (brand, size) to Catalyst's predicate decomposition.
* `waiting_suppliers` resolves the per-order "only late supplier"
  rule with a WINDOW over the (order, supplier)-grain aggregate —
  never an order-level self-join; per-order supplier lists are
  bounded, so the window partitions stay small at any SF.
* nation is broadcast unhinted (bounded dim); customer/supplier/part
  scale with SF and carry NO forced broadcast — AQE picks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .analytics2 import _dec, _revenue

#: Q3 analog — segment and cutoff date (ordered before, shipped after)
SHIP_SEGMENT = "BUILDING"
SHIP_CUTOFF = "1998-06-01"
SHIP_TOP_N = 10
#: Q6 analog — forecast-year revenue delta window
FORECAST_YEAR = ("1997-01-01", "1998-01-01")
FORECAST_DISC_LO, FORECAST_DISC_HI = 0.05, 0.07
FORECAST_MAX_QTY = 24
#: Q12 analog — shipping-delay buckets (days from order to ship)
DELAY_FAST_LT = 30
DELAY_NORMAL_LE = 90
HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")
#: Q19 analog — disjunctive brand/size/quantity triples
DISC_TRIPLES = (
    ("Brand#5", 15, 1, 11),
    ("Brand#15", 25, 10, 20),
    ("Brand#25", 35, 20, 30),
)
#: Q21 analog — a supplier "kept the order waiting" past this delay
WAIT_DAYS = 90
WAIT_TOP_N = 20


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: the SHIP_TOP_N highest-revenue orders from
    SHIP_SEGMENT customers that were placed before SHIP_CUTOFF but
    still had lineitems shipping after it. Revenue ranks by the exact
    decimal sum (orderkey tiebreak) before the round-for-output."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == SHIP_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < SHIP_CUTOFF
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > SHIP_CUTOFF
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("o_orderdate").asc(),
                 F.col("l_orderkey").asc())
        .limit(SHIP_TOP_N)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


def q_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue increase had FORECAST_YEAR's mid-range
    discounts (FORECAST_DISC_LO..HI) on small quantities been
    eliminated — SUM(extendedprice × discount) over the filtered scan,
    no joins; the whole predicate reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= FORECAST_YEAR[0])
        & (F.col("l_shipdate") < FORECAST_YEAR[1])
        & (F.col("l_discount") >= FORECAST_DISC_LO)
        & (F.col("l_discount") <= FORECAST_DISC_HI)
        & (F.col("l_quantity") < FORECAST_MAX_QTY)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2)), 2)
        .cast("double")
        .alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: per shipping-delay bucket (FAST < DELAY_FAST_LT
    days from order to ship, NORMAL ≤ DELAY_NORMAL_LE, else SLOW) over
    1997 shipments, how many lineitems belong to high- vs low-priority
    orders — the ship-mode/priority correlation report."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < DELAY_FAST_LT, "FAST")
        .when(delay <= DELAY_NORMAL_LE, "NORMAL")
        .otherwise("SLOW")
    )
    is_high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: revenue from the OR-of-ANDs part/lineitem
    predicate (DISC_TRIPLES brand × size-cap × quantity-band). The
    disjunction spans both tables, so Catalyst must decompose it:
    brand/size conjuncts push to the part scan, quantity bounds to the
    lineitem scan, the residual stays on the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    pred = None
    for brand, size_hi, qty_lo, qty_hi in DISC_TRIPLES:
        clause = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_hi)
            & (F.col("l_quantity") >= qty_lo)
            & (F.col("l_quantity") <= qty_hi)
        )
        pred = clause if pred is None else (pred | clause)
    return joined.where(pred).agg(
        F.round(F.sum(_revenue()), 2).cast("double").alias("disc_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog: suppliers who were the ONLY late shipper
    (> WAIT_DAYS from order date) in a multi-supplier F-status order,
    ranked by how many orders they alone kept waiting. The per-order
    "only late one" rule is a window over the (order, supplier)-grain
    aggregate — bounded partitions, no order-level self-join."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    late = F.max(
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {WAIT_DAYS} DAYS"),
            1,
        ).otherwise(0)
    )
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .where(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(
                nation.select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(WAIT_TOP_N)
        .select("s_suppkey", "s_name", "nation", "numwait")
    )


QUERIES = {
    "shipping_priority": q_shipping_priority,
    "forecast_revenue_delta": q_forecast_revenue_delta,
    "late_shipment_priority": q_late_shipment_priority,
    "discounted_revenue": q_discounted_revenue,
    "waiting_suppliers": q_waiting_suppliers,
}

ORACLES: dict[str, str] = {
    "shipping_priority": f"""
        SELECT l.l_orderkey AS o_orderkey,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue,
               CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
               o.o_orderpriority
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = '{SHIP_SEGMENT}'
          AND o.o_orderdate < TIMESTAMP '{SHIP_CUTOFF}'
          AND l.l_shipdate > TIMESTAMP '{SHIP_CUTOFF}'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) DESC,
                 o.o_orderdate ASC, l.l_orderkey ASC
        LIMIT {SHIP_TOP_N}
    """,
    "forecast_revenue_delta": f"""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS forecast_revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{FORECAST_YEAR[0]}'
          AND l_shipdate < TIMESTAMP '{FORECAST_YEAR[1]}'
          AND l_discount >= {FORECAST_DISC_LO}
          AND l_discount <= {FORECAST_DISC_HI}
          AND l_quantity < {FORECAST_MAX_QTY}
    """,
    "late_shipment_priority": f"""
        SELECT CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                         < {DELAY_FAST_LT} THEN 'FAST'
                    WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                         <= {DELAY_NORMAL_LE} THEN 'NORMAL'
                    ELSE 'SLOW' END AS delay_bucket,
               CAST(SUM(CASE WHEN o.o_orderpriority IN
                             ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN
                             ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                    AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
        ORDER BY delay_bucket
    """,
    "discounted_revenue": f"""
        SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS disc_revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = '{DISC_TRIPLES[0][0]}'
               AND p.p_size BETWEEN 1 AND {DISC_TRIPLES[0][1]}
               AND l.l_quantity BETWEEN {DISC_TRIPLES[0][2]}
                                    AND {DISC_TRIPLES[0][3]})
           OR (p.p_brand = '{DISC_TRIPLES[1][0]}'
               AND p.p_size BETWEEN 1 AND {DISC_TRIPLES[1][1]}
               AND l.l_quantity BETWEEN {DISC_TRIPLES[1][2]}
                                    AND {DISC_TRIPLES[1][3]})
           OR (p.p_brand = '{DISC_TRIPLES[2][0]}'
               AND p.p_size BETWEEN 1 AND {DISC_TRIPLES[2][1]}
               AND l.l_quantity BETWEEN {DISC_TRIPLES[2][2]}
                                    AND {DISC_TRIPLES[2][3]})
    """,
    "waiting_suppliers": f"""
        WITH per_supp AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   MAX(CASE WHEN l.l_shipdate
                                 > o.o_orderdate + INTERVAL {WAIT_DAYS} DAY
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        flagged AS (
            SELECT l_suppkey, is_late,
                   COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                   SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
            FROM per_supp
        ),
        waiting AS (
            SELECT l_suppkey, COUNT(*) AS numwait
            FROM flagged
            WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
               CAST(w.numwait AS BIGINT) AS numwait
        FROM waiting w
        JOIN supplier s ON w.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        ORDER BY w.numwait DESC, s.s_suppkey ASC
        LIMIT {WAIT_TOP_N}
    """,
}
