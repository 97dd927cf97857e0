"""Procurement & customer-segmentation analytics — TPC-H Q2/Q11/Q16/Q20
shapes plus the classic retail RFM report (driver correctness gate).

Reference parity: extends the reference's declared report layer
(the dbt staging/mart models in
config/pipelines/sample_pipeline.yaml:55-99; the model SQL itself is
empty scaffolding) with the remaining
classic procurement shapes, re-expressed on the columns this schema has
(no partsupp table → lineitem is the part↔supplier bridge; supply value
= shipped extended price).

Cross-engine determinism rules used throughout (the oracle twins hash
values, so a last-ulp float drift is a red row):
* money is summed as DECIMAL(12,2) (exact), rounded, THEN cast double;
* rankings order by the exact decimal (plus an id tiebreak), never by a
  derived double;
* ratio outputs are a single IEEE double op over exact inputs.

Plan notes (the 100 TB shapes):
* nation/region broadcast unhinted (bounded dims); part/supplier/
  customer scale with SF and carry NO forced broadcast — AQE picks
  (test-pinned policy, see test_plans_physical.py).
* `min_cost_supplier` ranks inside a window partitioned by part key —
  per-part supplier lists are bounded, no global sort.
* `important_parts`' global total is a one-row aggregate broadcast back
  (the Q11 scalar-subquery shape) — never a per-row subquery.
* `supplier_diversity` expresses NOT IN as a left-anti hash join.
* `customer_rfm`'s ntile windows run over the CUSTOMER-grain aggregate
  (3-4 orders of magnitude below the fact table — same precedent as
  top_suppliers' global rank); the cluster-scale drop-in for the
  boundaries is the mergeable quantile sketch in operators/quality.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .analytics2 import _dec  # shared exact-decimal cast policy

#: Q2 analog parameters — procurement region & part segment
PROC_REGION = "EUROPE"
PROC_TYPE = "STANDARD"
PROC_MIN_SIZE = 40
#: Q11 analog — a part is "important" above this multiple of the MEAN
#: per-part value (scale-invariant: a fixed share-of-total threshold
#: goes vacuous as the part count grows with SF)
IMPORTANT_FACTOR = 1.5
#: Q16 analog part filters
DIVERSITY_EXCL_BRAND = "Brand#1"
DIVERSITY_EXCL_TYPE = "PROMO"
DIVERSITY_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)
#: Q20 analog — excess-supply threshold on 1997 PROMO shipped quantity
EXCESS_QTY = 300
#: RFM anchor — recency measured back from this date
RFM_ANCHOR = "1999-01-01"


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: for every PROC_TYPE part of size ≥ PROC_MIN_SIZE,
    the PROC_REGION supplier with the LOWEST total supply value (shipped
    extended price; suppkey tiebreak). Correlated-min shape as a window
    rank over exact decimals — no per-row subquery survives the plan."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == PROC_TYPE) & (F.col("p_size") >= PROC_MIN_SIZE)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == PROC_REGION)
    supply = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey", "p_brand")
        .agg(F.sum(_dec("l_extendedprice")).alias("supply_dec"))
    )
    regional = (
        supply.join(supp, supply.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(
                nation.select(
                    "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
                )
            ),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("supply_dec").asc(), F.col("s_suppkey").asc()
    )
    return (
        regional.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_suppkey",
            "s_name",
            "nation",
            F.round(F.col("supply_dec"), 2).cast("double").alias("supply_value"),
        )
        .orderBy("p_partkey")
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: parts whose total shipped value exceeds
    IMPORTANT_FACTOR × the mean per-part value. The global total/count
    is a one-row aggregate broadcast back (scalar-subquery shape); both
    sides compare exact-decimal→double casts with the threshold derived
    in one fixed IEEE op order, so no boundary part can flip."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("value_dec")
    )
    total = per_part.agg(
        F.sum(F.col("value_dec")).cast("double").alias("total_value"),
        F.count(F.lit(1)).cast("double").alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total), how="cross")
        .where(
            F.col("value_dec").cast("double")
            > (F.col("total_value") / F.col("n_parts")) * F.lit(IMPORTANT_FACTOR)
        )
        .join(part, per_part.l_partkey == part.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
            F.round(
                F.col("value_dec").cast("double") / F.col("total_value"), 6
            ).alias("value_share"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: distinct supplier count per (brand, type, size)
    for the filtered part segment, EXCLUDING negative-balance suppliers —
    the NOT IN expressed as a left-anti hash join (never a per-row
    subquery)."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != DIVERSITY_EXCL_BRAND)
        & (F.col("p_type") != DIVERSITY_EXCL_TYPE)
        & (F.col("p_size").isin(*DIVERSITY_SIZES))
    )
    li = load_table(spark, sf_dir, "lineitem")
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(blacklist, li.l_suppkey == blacklist.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_promo_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog: suppliers who shipped more than EXCESS_QTY units
    of PROMO parts during 1997 — the semi-join chain (part filter →
    lineitem aggregate → HAVING → supplier), with nation context."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > EXCESS_QTY)
    )
    return (
        heavy.join(supp, heavy.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(
                nation.select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "nation",
            F.round(F.col("qty_dec"), 2).cast("double").alias("promo_qty_1997"),
        )
        .orderBy("s_suppkey")
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail RFM segmentation: per ordering customer, recency (days
    before RFM_ANCHOR of the latest order), frequency (order count) and
    monetary (exact-decimal total spend), each cut into quartiles by
    ntile(4) with a custkey tiebreak (deterministic, engine-portable).
    The window input is the customer-grain aggregate, not the fact
    table; at cluster scale the quartile boundaries would come from the
    mergeable quantile sketch (operators/quality.py) instead."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_ANCHOR).cast("date"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("monetary_dec"),
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    w_m = Window.orderBy(F.col("monetary_dec").desc(), F.col("o_custkey").asc())
    return (
        rfm.withColumn("r_q", F.ntile(4).over(w_r))
        .withColumn("f_q", F.ntile(4).over(w_f))
        .withColumn("m_q", F.ntile(4).over(w_m))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "recency_days",
            "frequency",
            F.round(F.col("monetary_dec"), 2).cast("double").alias("monetary"),
            "r_q",
            "f_q",
            "m_q",
            F.concat(
                F.col("r_q").cast("string"),
                F.col("f_q").cast("string"),
                F.col("m_q").cast("string"),
            ).alias("rfm_code"),
        )
        .orderBy("c_custkey")
    )


QUERIES = {
    "min_cost_supplier": q_min_cost_supplier,
    "important_parts": q_important_parts,
    "supplier_diversity": q_supplier_diversity,
    "promo_excess_suppliers": q_promo_excess_suppliers,
    "customer_rfm": q_customer_rfm,
}

ORACLES: dict[str, str] = {
    "min_cost_supplier": f"""
        WITH supply AS (
            SELECT l.l_partkey, l.l_suppkey, p.p_brand,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS supply_dec
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = '{PROC_TYPE}' AND p.p_size >= {PROC_MIN_SIZE}
            GROUP BY l.l_partkey, l.l_suppkey, p.p_brand
        ),
        regional AS (
            SELECT sp.l_partkey, sp.p_brand, s.s_suppkey, s.s_name,
                   n.n_name AS nation, sp.supply_dec
            FROM supply sp
            JOIN supplier s ON sp.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = '{PROC_REGION}'
        )
        SELECT l_partkey AS p_partkey, p_brand, s_suppkey, s_name, nation,
               CAST(ROUND(supply_dec, 2) AS DOUBLE) AS supply_value
        FROM regional
        QUALIFY row_number() OVER (PARTITION BY l_partkey
                                   ORDER BY supply_dec ASC, s_suppkey ASC) = 1
        ORDER BY p_partkey
    """,
    "important_parts": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
            FROM lineitem GROUP BY l_partkey
        ),
        total AS (
            SELECT CAST(SUM(value_dec) AS DOUBLE) AS total_value,
                   CAST(COUNT(*) AS DOUBLE) AS n_parts
            FROM per_part
        )
        SELECT pp.l_partkey AS p_partkey, p.p_name,
               CAST(ROUND(pp.value_dec, 2) AS DOUBLE) AS part_value,
               ROUND(CAST(pp.value_dec AS DOUBLE) / t.total_value, 6)
                   AS value_share
        FROM per_part pp
        CROSS JOIN total t
        JOIN part p ON pp.l_partkey = p.p_partkey
        WHERE CAST(pp.value_dec AS DOUBLE)
              > (t.total_value / t.n_parts) * {IMPORTANT_FACTOR}
        ORDER BY part_value DESC, p_partkey
    """,
    "supplier_diversity": f"""
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> '{DIVERSITY_EXCL_BRAND}'
          AND p.p_type <> '{DIVERSITY_EXCL_TYPE}'
          AND p.p_size IN {DIVERSITY_SIZES}
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    "promo_excess_suppliers": f"""
        WITH heavy AS (
            SELECT l.l_suppkey,
                   SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS qty_dec
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'PROMO'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l.l_suppkey
            HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > {EXCESS_QTY}
        )
        SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
               CAST(ROUND(h.qty_dec, 2) AS DOUBLE) AS promo_qty_1997
        FROM heavy h
        JOIN supplier s ON h.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        ORDER BY s.s_suppkey
    """,
    "customer_rfm": f"""
        WITH rfm AS (
            SELECT o_custkey,
                   datediff('day', MAX(CAST(o_orderdate AS DATE)),
                            DATE '{RFM_ANCHOR}') AS recency_days,
                   COUNT(*) AS frequency,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary_dec
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey AS c_custkey, recency_days, frequency,
               CAST(ROUND(monetary_dec, 2) AS DOUBLE) AS monetary,
               r_q, f_q, m_q,
               CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
                   || CAST(m_q AS VARCHAR) AS rfm_code
        FROM (
            SELECT *,
                   ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC)
                       AS r_q,
                   ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC)
                       AS f_q,
                   ntile(4) OVER (ORDER BY monetary_dec DESC, o_custkey ASC)
                       AS m_q
            FROM rfm
        )
        ORDER BY c_custkey
    """,
}
