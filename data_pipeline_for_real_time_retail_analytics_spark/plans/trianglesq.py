"""Strong-tie triangle counting over the co-purchase graph.

``copurchase_triangles``: the 20 parts participating in the most
triangles of the SUPPORT-THRESHOLDED co-purchase graph (edges = part
pairs co-ordered in ≥ MIN_SUPPORT distinct orders). Triangles are the
graph-analytics primitive PageRank cannot see: clustering (tightly
bundled product families) versus mere centrality — the classic basis
for community detection, recommendation diversity, and spam-graph
anomaly scores.

Distributed shape — DEGREE-ORDERED wedge counting (the compact-forward
algorithm; Latapy 2008, also the MapReduce standard from Suri &
Vassilvitskii 2011): orient every edge from its lexicographically
smaller (degree, node) endpoint to the larger, enumerate wedges only
at each node's oriented out-neighbors, and close them against the
oriented edge list. Every triangle is counted EXACTLY once (at its
minimum-(degree, node) apex), and out-degrees are bounded by
O(sqrt(m)), so the wedge volume is O(m^1.5) worst case and far lower
on thresholded retail graphs — never the naive Σ deg² of unoriented
enumeration. Support thresholding is itself part of the shape: the
strong-tie subgraph is orders of magnitude smaller than the raw
co-occurrence graph, which is how production triangle jobs stay
feasible on 100 TB of orders.

All counts are integers; both engines orient by the identical
(degree, node) row comparison, so the oracle matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .copurchase import pair_support

MIN_SUPPORT = 3
TOP_K = 20


def _thresholded_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) strong-tie co-purchase edges, filtered from
    the shared plans/copurchase.pair_support materialization (one
    mining pass also feeds basket_pairs and part_pagerank)."""
    return (
        pair_support(spark, sf_dir)
        .where(F.col("support") >= MIN_SUPPORT)
        .select("pa", "pb")
    )


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, n_triangles, rank): top-20 parts by strong-tie triangle
    participation."""
    edges = _thresholded_edges(spark, sf_dir).localCheckpoint()
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionByName(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("degb"))
    ek = edges.join(da, "pa").join(db, "pb")
    lo_first = F.struct(F.col("dega"), F.col("pa")) < F.struct(
        F.col("degb"), F.col("pb")
    )
    oriented = ek.select(
        F.when(lo_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(lo_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(lo_first, F.col("degb")).otherwise(F.col("dega")).alias(
            "ddst"
        ),
    ).localCheckpoint()
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("ddst").alias("dv"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("ddst").alias("dw"))
    wedges = e1.join(e2, "src").where(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select("src", "v", "w")
    per_part = (
        tris.select(F.explode(F.array("src", "v", "w")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    w = Window.orderBy(F.desc("n_triangles"), F.col("part"))
    return (
        per_part.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("rank")
    )


QUERIES = {
    "copurchase_triangles": q_copurchase_triangles,
}

ORACLES: dict[str, str] = {
    "copurchase_triangles": f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
            FROM lineitem
        ),
        edges AS (
            SELECT a.part AS pa, b.part AS pb
            FROM baskets a JOIN baskets b
              ON a.okey = b.okey AND a.part < b.part
            GROUP BY a.part, b.part
            HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT pa AS node FROM edges
                UNION ALL
                SELECT pb AS node FROM edges
            ) GROUP BY node
        ),
        oriented AS (
            SELECT CASE WHEN (da.deg, e.pa) < (db.deg, e.pb)
                        THEN e.pa ELSE e.pb END AS src,
                   CASE WHEN (da.deg, e.pa) < (db.deg, e.pb)
                        THEN e.pb ELSE e.pa END AS dst,
                   CASE WHEN (da.deg, e.pa) < (db.deg, e.pb)
                        THEN db.deg ELSE da.deg END AS ddst
            FROM edges e
            JOIN deg da ON da.node = e.pa
            JOIN deg db ON db.node = e.pb
        ),
        wedges AS (
            SELECT e1.src, e1.dst AS v, e2.dst AS w
            FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
            WHERE (e1.ddst, e1.dst) < (e2.ddst, e2.dst)
        ),
        tris AS (
            SELECT wg.src, wg.v, wg.w
            FROM wedges wg
            JOIN oriented c ON c.src = wg.v AND c.dst = wg.w
        ),
        per_part AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
                SELECT src AS part FROM tris
                UNION ALL SELECT v FROM tris
                UNION ALL SELECT w FROM tris
            ) GROUP BY part
        )
        SELECT part, n_triangles,
               CAST(row_number() OVER (ORDER BY n_triangles DESC, part)
                    AS INT) AS rank
        FROM per_part
        QUALIFY rank <= {TOP_K}
        ORDER BY rank
    """,
}
