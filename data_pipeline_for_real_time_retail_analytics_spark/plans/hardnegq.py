"""Hard-negative mining for contrastive training.

``hard_negatives``: the training-data prep step for contrastive /
retrieval models (in-batch negatives are easy; the gradient signal
comes from negatives that are SIMILAR but wrong — e.g. Karpukhin et
al. 2020, "Dense Passage Retrieval", §4.2): for every anchor vector,
the top-3 most-cosine-similar corpus vectors EXCLUDING the anchor's
known positive (the planted duplicate) and itself. Composition of two
proven pieces: the planted vector corpus (``plant_dup_vectors``, the
embedding_near_dup workload) supplies ground-truth positives, and the
brute-force broadcast cosine rank (the registered ``cosine_topk``
shape) supplies the similarity order — with the positive excluded in
the JOIN CONDITION, not filtered after ranking, so rank k really is
the k-th hardest negative (a post-rank filter would leave holes).

The point the test pins: the naive top-k DOES surface the positive at
rank 1 (it is an exact copy, cosine 1.0) — mining that ignores known
positives poisons the negative set with false negatives, the documented
failure mode of naive mining. The exclusion is what makes the output a
training-ready negative set.

Scale: identical to ``cosine_topk`` — anchors broadcast against the
corpus, per-partition partial top-k via WindowGroupLimit before the
rank exchange. The production path swaps the brute-force scorer for
the IVF-PQ shortlist (``ivfpq_topk``) + exact re-rank; the exclusion
anti-condition composes unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import dot, l2_norm, plant_dup_vectors
from .corpusbase import ID_OFFSET, PLANT_EVERY_VECS, _embs
from .llm_oracles import _cosine

K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, match_id, cosine_sim, rank): top-3 hardest negatives
    per anchor, positives excluded by construction."""
    planted = plant_dup_vectors(
        _embs(spark, sf_dir), every=PLANT_EVERY_VECS, id_offset=ID_OFFSET
    )
    anchors = _embs(spark, sf_dir).where(
        F.col("vec_id") % PLANT_EVERY_VECS == 0
    )
    # per-row norm precompute (r13, guide §1.2): one fold per input row
    # instead of two per joined pair; dot/(qn·cn) is cosine()'s
    # identical expression tree — bit-identical sims
    q = anchors.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = planted.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    sims = c.join(
        F.broadcast(q),
        (F.col("match_id") != F.col("query_id"))
        & (F.col("match_id") != F.col("query_id") + F.lit(ID_OFFSET)),
    ).select(
        "query_id",
        "match_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K)
        .select(
            "query_id",
            "match_id",
            F.round("sim", 6).alias("cosine_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


QUERIES = {
    "hard_negatives": q_hard_negatives,
}

ORACLES: dict[str, str] = {
    "hard_negatives": rf"""
        WITH planted AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {ID_OFFSET}, embedding FROM embeddings
            WHERE vec_id % {PLANT_EVERY_VECS} = 0
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id % {PLANT_EVERY_VECS} = 0),
        c AS (SELECT vec_id AS match_id, embedding AS cv FROM planted),
        sims AS (
            SELECT query_id, match_id, {_cosine("qv", "cv")} AS sim
            FROM c JOIN q ON match_id <> query_id
                         AND match_id <> query_id + {ID_OFFSET}
        )
        SELECT query_id, match_id, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT)
                   AS rank
        FROM sims
        QUALIFY rank <= {K}
        ORDER BY query_id, rank
    """,
}
