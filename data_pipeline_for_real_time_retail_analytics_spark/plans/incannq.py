"""Incremental ANN index maintenance.

``incremental_ann_new_vecs``: a new embedding ingest batch probed
against the STANDING corpus index — the vector-store twin of
incremental_dedup_new_docs (text tier). Only the batch is hashed
fresh; the corpus side is the persisted sign-LSH bucket table a
deployment maintains across epochs (the recompute-vs-index economics
are measured for the text twin in NOTES.md; the
shape here is identical — batch bucket probe, candidates = the batch's
bucket collisions, exact cosine rerank on candidates only).

The synthetic batch makes the answer falsifiably bimodal:

* exact copies of every 100th corpus vector under +10M ids — the
  known re-ingested duplicates; sign-LSH ALWAYS buckets an exact copy
  with its original, so each must surface its original at rank 1 with
  cosine exactly 1.0 and trip the near-dup gate;
* REVERSED vectors of every 97th corpus vector under +20M ids — novel
  content (a reversed isotropic vector is an independent random
  direction; measured max corpus cosine 0.41 at sf0.01), which must
  pass the gate. Reversal is the deterministic both-engine novelty
  construction: no float arithmetic, just ``F.reverse`` /
  ``list_reverse`` on the same floats.

``is_near_dup`` (cosine ≥ 0.999 after the 6-dp round) is the ingest
gate column: a production pipeline drops or links flagged batch
vectors before they enter the index (the embedding-tier SemDeDup
admission control).

Scale shape: the batch broadcasts against the bucket-keyed corpus
(operators/similarity.ann_topk_sign_lsh); candidates are bucket
collisions, never all-pairs; the rerank is a per-query top-k window
(WindowGroupLimit). A batch vector whose bucket is empty in the corpus
yields no rows — the honest LSH miss, handled by multi-probe at the
recall tier (ann_eval_metrics measures that ladder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import ann_topk_sign_lsh
from ..sources import load_table
from . import llm_oracles as LO

#: near-dup admission threshold on the 6-dp rounded cosine
DUP_THRESHOLD = 0.999
#: top-k candidates reported per batch vector
K = 3
#: planted exact-copy stride / id offset (corpusbase conventions)
COPY_EVERY, COPY_OFFSET = 100, 10_000_000
#: novel reversed-vector stride / id offset
NOVEL_EVERY, NOVEL_OFFSET = 97, 20_000_000


def _ingest_batch(embs: DataFrame) -> DataFrame:
    copies = embs.where(F.col("vec_id") % COPY_EVERY == 0).select(
        (F.col("vec_id") + COPY_OFFSET).alias("vec_id"), "embedding"
    )
    novel = embs.where(F.col("vec_id") % NOVEL_EVERY == 0).select(
        (F.col("vec_id") + NOVEL_OFFSET).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    return copies.unionByName(novel)


def q_incremental_ann_new_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, match_id, bucket, cosine_sim, rank, is_near_dup) for
    each batch vector's top-3 standing-corpus candidates."""
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hits = ann_topk_sign_lsh(_ingest_batch(embs), embs, k=K, n_bits=8)
    return hits.select(
        "query_id",
        "match_id",
        "bucket",
        "cosine_sim",
        "rank",
        (F.col("cosine_sim") >= DUP_THRESHOLD).alias("is_near_dup"),
    ).orderBy("query_id", "rank")


QUERIES = {
    "incremental_ann_new_vecs": q_incremental_ann_new_vecs,
}

_COSINE = LO._cosine("qv", "cv")

ORACLES: dict[str, str] = {
    "incremental_ann_new_vecs": f"""
        WITH batch AS (
            SELECT vec_id + {COPY_OFFSET} AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id % {COPY_EVERY} = 0
            UNION ALL
            SELECT vec_id + {NOVEL_OFFSET} AS query_id,
                   list_reverse(embedding) AS qv
            FROM embeddings WHERE vec_id % {NOVEL_EVERY} = 0
        ),
        q AS (SELECT query_id, qv, {LO._bucket_expr(col='qv')} AS bucket FROM batch),
        c AS (SELECT vec_id AS match_id, embedding AS cv,
                     {LO._bucket_expr()} AS bucket
              FROM embeddings),
        sims AS (
            SELECT query_id, match_id, bucket, {_COSINE} AS sim
            FROM c JOIN q USING (bucket)
            WHERE query_id <> match_id
        ),
        ranked AS (
            SELECT query_id, match_id, bucket,
                   ROUND(sim, 6) AS cosine_sim,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, match_id)
                        AS INT) AS rank
            FROM sims
        )
        SELECT query_id, match_id, bucket, cosine_sim, rank,
               cosine_sim >= {DUP_THRESHOLD} AS is_near_dup
        FROM ranked
        WHERE rank <= {K}
        ORDER BY query_id, rank
    """,
}
