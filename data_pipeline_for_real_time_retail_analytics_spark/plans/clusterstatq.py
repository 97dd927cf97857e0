"""Near-dup cluster-size histogram.

``dup_cluster_sizes``: (cluster_size, n_clusters) over the MinHash
near-dup connected components — the one-glance duplication profile a
curation run reports (a healthy crawl shows a long size-2/3 tail; a
template-flooded source grows a giant component, and THIS table is
where that shows first). Consumes the shared
plans/corpusbase.planted_minhash_pairs materialization, so the cell
costs one components pass + two tiny aggregations beyond the pair set
every dedup cell already shares.

The planted corpus makes the histogram falsifiable: every 25th doc
carries one mutated copy, so size-2 clusters must number at least the
detector's recall share of the plantings, and no cluster can exceed
the planting multiplicity unless the corpus genuinely chains (pinned
in tests against the registered dedup_eval_metrics ground truth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_clusters
from . import llm_oracles as LO
from .corpusbase import planted_minhash_pairs


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters), ascending size."""
    clusters = dedup_clusters(planted_minhash_pairs(spark, sf_dir))
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


QUERIES = {
    "dup_cluster_sizes": q_dup_cluster_sizes,
}

ORACLES: dict[str, str] = {
    "dup_cluster_sizes": f"""
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM ({LO.dedup_clusters()})
            GROUP BY cluster_id
        )
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,
}
