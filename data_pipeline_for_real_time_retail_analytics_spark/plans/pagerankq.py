"""Co-purchase PageRank query (operators/pagerank.py).

``part_pagerank``: the 20 most central parts in the co-purchase graph
(parts are linked when some order contains both), after 3 exact-integer
PageRank iterations. Centrality ≠ frequency: a part bridging many
distinct baskets outranks one bought often in isolation — the signal
basket_pairs' pairwise lift cannot see.

The oracle UNROLLS the same three iterations as SQL CTEs with the
identical integer arithmetic (`//` floor division, the 85/100 damping
mix) — no float exists on either side, so ranks and ties match
bit-for-bit. The iteration body is one edge join + one partial
aggregation per step; the graph CTEs mirror the basket derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pagerank import DAMP_DEN, DAMP_NUM, SCALE, pagerank_fixed, symmetric_edges
from .copurchase import pair_support

ITERATIONS = 3
TOP_K = 20

_BASE_UNITS = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges: both directions of every distinct
    same-order part pair. Pair mining is the shared
    plans/copurchase.pair_support materialization (one pass also feeds
    basket_pairs and copurchase_triangles — the r9 plan audit found the
    basket self-join computed twice across those cells)."""
    pairs = pair_support(spark, sf_dir).select("pa", "pb")
    return symmetric_edges(pairs, "pa", "pb", canonical=True)


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 3-iteration integer PageRank. The operator
    broadcasts each iteration's contribution frame into the rank update:
    the node set is the part CATALOG — dimension-grain next to lineitem
    — so the rank update needs no SortMergeJoin or exchange."""
    ranks = pagerank_fixed(copurchase_edges(spark, sf_dir), ITERATIONS)
    w = Window.orderBy(F.desc("rank_units"), F.col("node"))
    return (
        ranks.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select(F.col("node").alias("part"), "rank_units", "rank")
        .orderBy("rank")
    )


def _iteration_ctes(n: int) -> str:
    """r0..r<n> CTEs unrolling the integer PageRank body."""
    parts = [
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank_units FROM nodes)"
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""c{i} AS (
            SELECT e.dst AS node,
                   CAST(SUM(r.rank_units // o.outdeg) AS BIGINT) AS inbound
            FROM edges e
            JOIN r{i - 1} r ON r.node = e.src
            JOIN outdeg o ON o.src = e.src
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
    "part_pagerank": q_part_pagerank,
}

ORACLES: dict[str, str] = {
    "part_pagerank": rf"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
            FROM lineitem
        ),
        prs AS (
            SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM baskets a JOIN baskets b
              ON a.okey = b.okey AND a.part < b.part
        ),
        edges AS (
            SELECT pa AS src, pb AS dst FROM prs
            UNION
            SELECT pb AS src, pa AS dst FROM prs
        ),
        nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION
            SELECT DISTINCT dst AS node FROM edges
        ),
        outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        {_iteration_ctes(ITERATIONS)}
        SELECT node AS part, rank_units,
               CAST(row_number() OVER (ORDER BY rank_units DESC, node)
                    AS INT) AS rank
        FROM r{ITERATIONS}
        QUALIFY rank <= {TOP_K}
        ORDER BY rank
    """,
}
