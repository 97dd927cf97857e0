"""Training-data-export showcase queries: bigram-LM perplexity scoring,
sequence packing, and embedding cluster assignment (driver correctness
gate).

Same pattern as plans/curation.py — new round's queries live in their
own module so previously-proven queries keep bit-identical backing
files; oracle SQL mirrors the Spark plan step for step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.embcluster import assign_embedding_clusters
from ..operators.lm import score_bigram_lm
from ..operators.packing import pack_sequences, shuffle_shards
from ..operators.similarity import ivf_centroids
from ..operators.textstats import ws_tokens
from .corpusbase import _docs, _embs
from .llm_oracles import LM_PERPLEXITY_ORACLE, TOKS, _cosine

#: packing capacity — ~4 synthetic docs (30-40 tokens each) per sequence
SEQ_LEN = 128
#: bucket span for the distributed prefix sum (any value → same output)
BUCKET_SPAN = 64
#: cluster count for the SemDeDup-style assignment
N_CLUSTERS = 16
#: shard count for the deterministic training-export shuffle
N_SHARDS = 16


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bits/bigram under the corpus-trained add-0.5 bigram
    LM (operators/lm.py:score_bigram_lm)."""
    return score_bigram_lm(_docs(spark, sf_dir)).orderBy("doc_id")


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous start-offset packing of the corpus token stream into
    SEQ_LEN-capacity training sequences
    (operators/packing.py:pack_sequences)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", seq_len=SEQ_LEN, bucket_span=BUCKET_SPAN
    ).orderBy("doc_id")


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-cosine assignment of every embedding to the deterministic
    N_CLUSTERS-seed codebook (operators/embcluster.py)."""
    embs = _embs(spark, sf_dir)
    cents = ivf_centroids(embs, n_cells=N_CLUSTERS)
    return assign_embedding_clusters(embs, cents).orderBy("vec_id")


def q_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into N_SHARDS export
    shards (operators/packing.py:shuffle_shards)."""
    return shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_shards=N_SHARDS
    ).orderBy("shard", "pos")


QUERIES = {
    "lm_perplexity": q_lm_perplexity,
    "packed_sequences": q_packed_sequences,
    "embedding_clusters": q_embedding_clusters,
    "shuffled_shards": q_shuffled_shards,
}

ORACLES: dict[str, str] = {
    "shuffled_shards": rf"""
        WITH keyed AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(
                       CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
                       AS sort_key
            FROM documents
        ),
        sh AS (
            SELECT doc_id, sort_key, sort_key % {N_SHARDS} AS shard
            FROM keyed
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY sort_key, doc_id
               ) AS BIGINT) AS pos
        FROM sh ORDER BY shard, pos
    """,
    "lm_perplexity": LM_PERPLEXITY_ORACLE,
    "packed_sequences": rf"""
        WITH t AS (
            SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cb
            FROM t
        )
        SELECT doc_id, n_tokens,
               cb // {SEQ_LEN} AS seq_id,
               cb % {SEQ_LEN} AS offset_in_seq
        FROM c ORDER BY doc_id
    """,
    "embedding_clusters": rf"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cv
            FROM embeddings ORDER BY vec_id LIMIT {N_CLUSTERS}
        ),
        sims AS (
            SELECT e.vec_id, c.cid,
                   {_cosine("e.embedding", "c.cv")} AS csim
            FROM embeddings e CROSS JOIN cents c
        )
        SELECT vec_id, cid AS cluster, ROUND(csim, 6) AS centroid_sim
        FROM sims
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY csim DESC, cid DESC
        ) = 1
        ORDER BY vec_id
    """,
}
