"""Cross-nation trade analytics — TPC-H Q7/Q8/Q22-shaped queries over
the star schema (driver correctness gate).

Reference parity: these extend the reference's declared report layer
(the dbt staging/mart models in
config/pipelines/sample_pipeline.yaml:55-99; the model SQL itself is
empty scaffolding) with the classic
multi-join volume/share/anti-join reports; semantics are standard
TPC-H, re-expressed on the columns this schema has.

Plan notes (the 100 TB shapes):
* nation/region are broadcast by Catalyst unhinted (bounded dims);
  orders⋈lineitem / orders⋈customer shuffle on their join keys with
  AQE free to pick the strategy — the scale-growing sides carry no
  forced broadcast (test-pinned policy, see test_plans_physical).
* ship-date / order-date predicates sit directly on the scan so parquet
  row-group stats and partition pruning see them.
* `idle_customer_balance` is an anti-join (NOT EXISTS) against orders
  — the Q22 shape: build side is the filtered orders key set, probe is
  customers; no correlated per-row subquery survives into the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

#: Q8 market-share parameters
SHARE_NATION = "NATION_3"
SHARE_REGION = "ASIA"
#: Q22 idle-customer cutoff — no orders on/after this date
IDLE_SINCE = "1999-01-01"


def _dec(col: str, p: int = 12, s: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({p},{s})")


def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4, 2))


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: shipped revenue between every ordered pair of
    distinct (supplier nation → customer nation) lanes per ship year,
    1996-1997 window."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: SHARE_NATION suppliers' share of all LARGE-type
    part revenue sold to SHARE_REGION customers, per order year."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "LARGE")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == SHARE_REGION
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _revenue().alias("vol"),
            F.col("supp_nation"),
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == SHARE_NATION, F.col("vol")).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                nation_vol.cast("double") / F.sum("vol").cast("double"), 6
            ).alias("mkt_share"),
            F.round(F.sum("vol"), 2).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: customers with above-average positive balance
    and NO orders since IDLE_SINCE — count and captive balance per
    nation (the sales-opportunity anti-join report)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= IDLE_SINCE
    )
    nation = load_table(spark, sf_dir, "nation")
    # threshold = exact decimal sum / exact count, divided in ONE double
    # op — a float AVG's summation order varies by engine/partitioning
    # and a last-ulp difference would flip boundary customers.
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("ab")
    )
    rich = (
        cust.join(F.broadcast(avg_bal), how="cross")
        .where(F.col("c_acctbal").cast("double") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return (
        rich.join(
            F.broadcast(
                nation.select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            rich.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("total_acctbal"),
        )
        .orderBy("nation")
    )


QUERIES = {
    "volume_shipping": q_volume_shipping,
    "market_share": q_market_share,
    "idle_customer_balance": q_idle_customer_balance,
}

ORACLES: dict[str, str] = {
    "volume_shipping": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
          AND sn.n_name <> cn.n_name
        GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "market_share": f"""
        WITH vol AS (
            SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                   CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS vol,
                   sn.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN region r ON cn.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            WHERE p.p_type = 'LARGE' AND r.r_name = '{SHARE_REGION}'
        )
        SELECT o_year,
               ROUND(CAST(SUM(CASE WHEN supp_nation = '{SHARE_NATION}'
                                   THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END)
                          AS DOUBLE)
                     / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
               CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS total_volume
        FROM vol
        GROUP BY o_year
        ORDER BY o_year
    """,
    "idle_customer_balance": f"""
        WITH ab AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS ab
            FROM customer WHERE c_acctbal > 0
        )
        SELECT n.n_name AS nation,
               COUNT(*) AS n_customers,
               CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        CROSS JOIN ab
        WHERE CAST(c.c_acctbal AS DOUBLE) > ab.ab
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '{IDLE_SINCE}'
          )
        GROUP BY n.n_name
        ORDER BY nation
    """,
}
