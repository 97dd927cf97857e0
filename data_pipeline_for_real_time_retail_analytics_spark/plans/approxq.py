"""Sketch-accuracy profile.

``approx_profile_orders`` drives the approx tier of
operators/quality.py (HyperLogLog++ ``approx_count_distinct``,
t-digest/GK ``percentile_approx``) through the DRIVER's value gate,
which an estimate cannot pass directly (sketch outputs are
engine-specific — DuckDB's HLL and Spark's disagree by design). The
tolerance-banded contract makes the claim checkable anyway:

* EXACT anchors (distinct count, 2×-median in centi-units — integer,
  engine-independent) are emitted as values and must hash-match the
  oracle's recompute;
* the SKETCH estimates are emitted as BANDED BOOLEANS computed on the
  Spark side (|HLL − exact| ≤ 3·rsd·exact; approx-median within the
  exact p45–p55 band) against an oracle that asserts literal TRUE — a
  sketch drifting out of tolerance turns the driver cell red.

This is the SURVEY §4 scale-substitution story as a driver-checked
row: at 100 TB the exact anchors are the columns you DROP (exact
distinct holds every value in memory; exact percentile sorts the
column) and the sketches are what ships — one partial-aggregated pass,
KB of bounded state per group, mergeable across shards. The banded
pair is how the substitution's accuracy contract stays regression-
tested at the SF where the exact twin is still computable.

The 2×-median trick: both engines define the exact continuous median
as the average of the two middle elements for even counts; doubling
it makes the anchor an exact integer (a+b), removing every float
comparison from the row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

#: HLL relative standard deviation; the band allows 3 sigma
RSD = 0.05
#: percentile_approx accuracy knob (rows beyond this per group are
#: where the estimate actually approximates — sf0.1 crosses it)
PCT_ACCURACY = 10_000


def q_approx_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_orders, custkey_distinct, custkey_sketch_ok,
    median2x_cents, median_sketch_ok): exact anchors + banded sketch
    claims, one aggregation pass."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    # TWO aggregation passes on purpose, broadcast-joined on the
    # group-cardinality key: mixing COUNT(DISTINCT) into the same agg
    # forces Spark's distinct rewrite to carry every ObjectHashAggregate
    # buffer (the exact-percentile value lists) through a partial keyed
    # by (group, custkey) — measured 7.2 s combined vs <=1.4 s for any
    # aggregate alone at sf0.1 (NOTES r9). Split, the sketch pass is one
    # object-agg scan and the distinct pass is a plain two-phase count.
    sk = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey", RSD).alias("_acd"),
        F.expr("percentile(cents, array(0.45, 0.5, 0.55))").alias("_ps"),
        F.percentile_approx(
            F.col("cents"), F.lit(0.5), F.lit(PCT_ACCURACY)
        ).alias("_amed"),
    ).select(
        "o_orderpriority",
        "n_orders",
        "_acd",
        F.get("_ps", 0).alias("_p45"),
        F.get("_ps", 1).alias("_med"),
        F.get("_ps", 2).alias("_p55"),
        "_amed",
    )
    cd = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("custkey_distinct")
    )
    g = sk.join(F.broadcast(cd), "o_orderpriority")
    return g.select(
        "o_orderpriority",
        "n_orders",
        "custkey_distinct",
        (
            F.abs(F.col("_acd") - F.col("custkey_distinct"))
            <= 3 * RSD * F.col("custkey_distinct")
        ).alias("custkey_sketch_ok"),
        F.round(2 * F.col("_med")).cast("long").alias("median2x_cents"),
        (
            (F.col("_amed") >= F.floor("_p45"))
            & (F.col("_amed") <= F.ceil("_p55"))
        ).alias("median_sketch_ok"),
    ).orderBy("o_orderpriority")


QUERIES = {
    "approx_profile_orders": q_approx_profile_orders,
}

ORACLES: dict[str, str] = {
    # the oracle recomputes the exact anchors and asserts the banded
    # sketch claims as literal TRUE — Spark's sketches must earn them
    "approx_profile_orders": """
        WITH o AS (
            SELECT o_orderpriority, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct,
               TRUE AS custkey_sketch_ok,
               CAST(ROUND(2 * quantile_cont(cents, 0.5)) AS BIGINT)
                   AS median2x_cents,
               TRUE AS median_sketch_ok
        FROM o
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
}
