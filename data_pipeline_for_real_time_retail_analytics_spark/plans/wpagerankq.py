"""Quantity-weighted co-purchase PageRank.

``part_pagerank_weighted``: the 20 most central parts when each
co-purchase edge carries the combined ordered QUANTITY of the pair
(centi-units, exact DECIMAL→BIGINT), after 3 exact-integer weighted
PageRank iterations (operators/pagerank.py:pagerank_weighted_fixed).
Against the unweighted variant (plans/pagerankq.py) this is the
volume-sensitive centrality: a part co-ordered in bulk pulls more rank
than one sharing many one-unit baskets — the difference between "holds
the catalog together" and "moves the warehouse".

The oracle unrolls the same three iterations as SQL CTEs; the one
arithmetic asymmetry is deliberate and value-identical: Spark computes
each contribution floor(p·w/W) via the bounded-intermediate identity
``(p DIV W)·w + ((p mod W)·w) DIV W`` (BIGINT-safe at rank-mass scale)
while DuckDB computes the plain product in HUGEINT — equal by the
division algorithm, so ranks and ties still match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pagerank import (
    DAMP_DEN,
    DAMP_NUM,
    SCALE,
    pagerank_weighted_fixed,
)
from ..sources import load_table

ITERATIONS = 3
TOP_K = 20

_BASE_UNITS = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN


def weighted_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges (src, dst, w): both directions of
    every distinct same-order part pair, weighted by the pair's combined
    ordered quantity in centi-units summed over their shared orders.

    Shape (r13, guide §2.4 — the pair_support rewrite applied to the
    weighted miner, which had kept the old okey self-join): ONE
    repartition on okey feeds both order-grain aggregations
    partition-locally (hashpartitioning(okey) satisfies the (okey,
    part) clustering, so neither groupBy re-shuffles), each order's
    (part, cqty) items collect into a part-sorted array (parts are
    DISTINCT per order after the first aggregation, so the struct sort
    is a total order on part), and the canonical pa < pb pairs with
    their qa + qb weights are a map-side array transform — the basket
    self-join, its two okey exchanges and its sorts are gone. The pair
    multiset is identical to the self-join's (sorted array ⇒ pa < pb by
    construction, numeric order = the theta filter's; per-order weight
    contribution qa + qb unchanged), so the BIGINT pair sums match
    bit-for-bit — pinned against the self-join formulation on real
    lineitem data (tests/test_wpagerank.py) and value-proven by the
    unchanged self-join-shaped DuckDB oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("part"),
            (F.col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cqty"),
        )
        .repartition("okey")
        .groupBy("okey", "part")
        .agg(F.sum("cqty").alias("cqty"))
        .groupBy("okey")
        .agg(
            F.array_sort(F.collect_list(F.struct("part", "cqty"))).alias(
                "items"
            )
        )
    )
    # ordered pairs (items[i], items[j]) with i < j over the part-sorted
    # array: pa < pb by construction, one struct row per co-ordered pair
    pair_arr = F.flatten(
        F.transform(
            "items",
            lambda it_a, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda it_b: F.struct(
                    it_a["part"].alias("pa"),
                    it_b["part"].alias("pb"),
                    (it_a["cqty"] + it_b["cqty"]).alias("pw"),
                ),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb", "p.pw")
        .groupBy("pa", "pb")
        .agg(F.sum("pw").alias("w"))
    )
    # both directions from ONE pair stream (r14, advice item): the old
    # fwd.unionByName(rev) duplicated the entire mining subtree (scan,
    # repartition, two aggregations, pair explode, pair groupBy) as two
    # plan branches, so even a single downstream materialization ran
    # the mining twice. Exploding a 2-struct array per pair emits the
    # identical directed-edge multiset map-side, one mining pass.
    both = F.explode(
        F.array(
            F.struct(
                F.col("pa").alias("src"), F.col("pb").alias("dst"), F.col("w")
            ),
            F.struct(
                F.col("pb").alias("src"), F.col("pa").alias("dst"), F.col("w")
            ),
        )
    )
    return pairs.select(both.alias("e")).select("e.src", "e.dst", "e.w")


def q_part_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 3-iteration quantity-weighted integer PageRank."""
    ranks = pagerank_weighted_fixed(
        weighted_copurchase_edges(spark, sf_dir), ITERATIONS
    )
    w = Window.orderBy(F.desc("rank_units"), F.col("node"))
    return (
        ranks.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select(F.col("node").alias("part"), "rank_units", "rank")
        .orderBy("rank")
    )


def _iteration_ctes(n: int) -> str:
    """r0..r<n> CTEs unrolling the weighted integer PageRank body."""
    parts = [
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank_units FROM nodes)"
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""c{i} AS (
            SELECT e.dst AS node,
                   CAST(SUM((CAST(r.rank_units AS HUGEINT) * e.w) // o.outw)
                        AS BIGINT) AS inbound
            FROM edges e
            JOIN r{i - 1} r ON r.node = e.src
            JOIN outw o ON o.src = e.src
            GROUP BY e.dst
        )"""
        )
        parts.append(
            f"""r{i} AS (
            SELECT n.node,
                   CAST({_BASE_UNITS} + ({DAMP_NUM} * COALESCE(c.inbound, 0))
                        // {DAMP_DEN} AS BIGINT) AS rank_units
            FROM nodes n LEFT JOIN c{i} c USING (node)
        )"""
        )
    return ",\n        ".join(parts)


QUERIES = {
    "part_pagerank_weighted": q_part_pagerank_weighted,
}

ORACLES: dict[str, str] = {
    "part_pagerank_weighted": rf"""
        WITH baskets AS (
            SELECT l_orderkey AS okey, l_partkey AS part,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cqty
            FROM lineitem
            GROUP BY l_orderkey, l_partkey
        ),
        prs AS (
            SELECT a.part AS pa, b.part AS pb,
                   CAST(SUM(a.cqty + b.cqty) AS BIGINT) AS w
            FROM baskets a JOIN baskets b
              ON a.okey = b.okey AND a.part < b.part
            GROUP BY a.part, b.part
        ),
        edges AS (
            SELECT pa AS src, pb AS dst, w FROM prs
            UNION ALL
            SELECT pb AS src, pa AS dst, w FROM prs
        ),
        nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION
            SELECT DISTINCT dst AS node FROM edges
        ),
        outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw
                 FROM edges GROUP BY src),
        {_iteration_ctes(ITERATIONS)}
        SELECT node AS part, rank_units,
               CAST(row_number() OVER (ORDER BY rank_units DESC, node)
                    AS INT) AS rank
        FROM r{ITERATIONS}
        QUALIFY rank <= {TOP_K}
        ORDER BY rank
    """,
}
