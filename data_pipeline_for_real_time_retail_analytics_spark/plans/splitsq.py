"""Leakage-safe train/val/test splits (cluster-aware).

``cluster_safe_splits``: the standard hash split
(operators/sampling.py ``train_val_test_split``) keyed on the
document's NEAR-DUP CLUSTER representative instead of the document id.
Plain per-doc splitting puts two near-identical documents in train and
test ~2·r(1−r) of the time — eval contamination by construction; keying
the hash on the cluster id sends every member of a duplicate cluster to
the same side, which is the documented split discipline of the
deduplicated-pretraining literature (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", §5 — splits leak unless
keyed on the duplicate cluster).

Composition, all previously-proven pieces: the shared
``planted_minhash_pairs`` materialization → ``dedup_clusters``
(pointer-jumping connected components) → left-join back to the corpus
(singletons are their own cluster) → ``train_val_test_split`` on
cluster_id. Output is the per-split accounting (split, n_docs,
n_clusters); the zero-leakage invariant itself (no cluster straddles
splits) is structural — hash of one key → one split — and pinned in
tests/test_splitsq.py.

100 TB: the cluster map is near-dup-bounded (pairs + singleton
fallback needs no row the pair graph doesn't touch — the left join is
against the full corpus but moves only (id, cluster) longs), the split
is one md5 per row, and the accounting partial-aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_clusters, plant_near_dups
from ..operators.sampling import train_val_test_split
from .corpusbase import PLANT_EVERY_DOCS, _docs, planted_minhash_pairs
from .llm_oracles import _minhash_pair_ctes

VAL_RATE = 0.1
TEST_RATE = 0.1


def assigned_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for EVERY planted-corpus doc: near-dup
    cluster representative for paired docs, own id for singletons."""
    planted = plant_near_dups(_docs(spark, sf_dir), every=PLANT_EVERY_DOCS)
    clusters = dedup_clusters(planted_minhash_pairs(spark, sf_dir))
    return planted.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


def q_cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split doc and cluster accounting under cluster-keyed
    splitting."""
    assigned = assigned_clusters(spark, sf_dir)
    split = train_val_test_split(
        assigned, id_col="cluster_id", val_rate=VAL_RATE, test_rate=TEST_RATE
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


QUERIES = {
    "cluster_safe_splits": q_cluster_safe_splits,
}

_TEST_HI = int(TEST_RATE * 10_000)
_VAL_HI = _TEST_HI + int(VAL_RATE * 10_000)

#: the split bucket, keyed on cluster_id — operators/sampling.py's
#: hash_bucket convention (md5 of the id as VARCHAR, first 8 hex chars)
_CLUSTER_BUCKET = (
    "CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10000"
)

ORACLES: dict[str, str] = {
    "cluster_safe_splits": rf"""
        WITH RECURSIVE {_minhash_pair_ctes()},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id
        ),
        clu AS (SELECT id AS doc_id, MIN(r) AS cluster_id
                FROM reach GROUP BY id),
        assigned AS (
            SELECT c.doc_id, COALESCE(clu.cluster_id, c.doc_id) AS cluster_id
            FROM corpus c LEFT JOIN clu USING (doc_id)
        ),
        labeled AS (
            SELECT CASE WHEN {_CLUSTER_BUCKET} < {_TEST_HI} THEN 'test'
                        WHEN {_CLUSTER_BUCKET} < {_VAL_HI} THEN 'val'
                        ELSE 'train' END AS split,
                   cluster_id
            FROM assigned
        )
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT cluster_id) AS n_clusters
        FROM labeled GROUP BY split ORDER BY split
    """,
}
