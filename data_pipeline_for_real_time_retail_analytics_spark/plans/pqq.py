"""Product-quantization queries (operators/pq.py).

Two registered shapes:

* ``pq_words`` — every corpus vector's packed PQ word under the
  deterministic 8-block × 16-code codebook (one BIGINT per vector, the
  compressed representation a 100 TB deployment stores hot).
* ``pq_topk_adc`` — asymmetric-distance top-5 for the standard query
  set (every 100th vector), scored entirely from codes + a broadcast
  lookup table. Distances are exact BIGINT micro-units, so the oracle
  comparison has no float fold-order surface anywhere.

Oracle mirroring notes: per-dimension squared-diff terms are
floor(d·d·1e12 + 0.5) over FLOAT→DOUBLE-widened values — bit-identical
IEEE ops on both engines — and every sum is integer. Argmin ties break
to the LOWER code (row_number ORDER BY qd, code ≡ Spark's struct-min);
rank ties to the lower match id.

Reference parity: no vector surface exists in the reference (its
transformation layer is dbt-declared scaffolding,
config/pipelines/sample_pipeline.yaml:55-99); this extends the mandated
similarity suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pq import pq_adc_topk, pq_codebooks, pq_codes
from .corpusbase import PLANT_EVERY_VECS, _embs

#: PQ geometry — 64-dim corpus → 8 blocks of 8 dims, 16 codes per block
PQ_M = 8
PQ_K = 16
_SUB_DIM = 8  # oracle-side constant; operators derive it per row
_TOPK = 5


def q_pq_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed 32-bit PQ words for the whole corpus."""
    embs = _embs(spark, sf_dir)
    cb = pq_codebooks(embs, m=PQ_M, k=PQ_K)
    return pq_codes(embs, cb)


def q_pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 per standard query vector, exact-integer distances.

    The codebook is localCheckpointed: pq_adc_topk references it twice
    (corpus assignment + query lookup table), and each un-materialized
    reference would re-run the codebook's full-corpus TakeOrdered scan
    (the sq8_topk scales lesson; the frame is m·k = 128 rows, free to
    materialize)."""
    embs = _embs(spark, sf_dir)
    cb = pq_codebooks(embs, m=PQ_M, k=PQ_K).localCheckpoint()
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return pq_adc_topk(queries, embs, cb, k=_TOPK)


def _term(vec: str, cvec: str, base: str) -> str:
    """Quantized squared-diff term list for one dimension block —
    mirrors operators/pq.py:_qdist bit for bit."""
    d = (
        f"(CAST({vec}[{base} + i] AS DOUBLE) - "
        f"CAST({cvec}[i] AS DOUBLE))"
    )
    return (
        f"list_transform(range(1, {_SUB_DIM} + 1), "
        f"i -> CAST(floor({d} * {d} * 1e12 + 0.5) AS BIGINT))"
    )


_CODEBOOK = f"""
    seeds AS (
        SELECT vec_id AS cid, embedding AS cv,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS code
        FROM embeddings ORDER BY vec_id LIMIT {PQ_K}
    ),
    cb AS (
        SELECT s.sub, seeds.code,
               list_slice(seeds.cv, s.sub * {_SUB_DIM} + 1,
                          (s.sub + 1) * {_SUB_DIM}) AS scv
        FROM seeds, (SELECT unnest(range(0, {PQ_M})) AS sub) s
    )
"""

_ASSIGN = f"""
    dists AS (
        SELECT e.vec_id, cb.sub, cb.code,
               CAST(list_sum({_term("e.embedding", "cb.scv", f"cb.sub * {_SUB_DIM}")})
                    AS BIGINT) AS qd
        FROM embeddings e CROSS JOIN cb
    ),
    assigned AS (
        SELECT vec_id, sub, code
        FROM (SELECT vec_id, sub, code,
                     row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY qd, code) AS rn
              FROM dists)
        WHERE rn = 1
    )
"""

QUERIES = {
    "pq_words": q_pq_words,
    "pq_topk_adc": q_pq_topk_adc,
}

ORACLES: dict[str, str] = {
    "pq_words": f"""
        WITH {_CODEBOOK}, {_ASSIGN}
        SELECT vec_id,
               CAST(SUM(code * (CAST(1 AS BIGINT) << CAST(4 * sub AS INT)))
                    AS BIGINT) AS pq_word
        FROM assigned GROUP BY vec_id
    """,
    "pq_topk_adc": f"""
        WITH {_CODEBOOK}, {_ASSIGN},
        lut AS (
            SELECT q.vec_id AS query_id, cb.sub, cb.code,
                   CAST(list_sum({_term("q.embedding", "cb.scv", f"cb.sub * {_SUB_DIM}")})
                        AS BIGINT) AS qd
            FROM embeddings q CROSS JOIN cb
            WHERE q.vec_id % {PLANT_EVERY_VECS} = 0
        ),
        scored AS (
            SELECT l.query_id, a.vec_id AS match_id,
                   CAST(SUM(l.qd) AS BIGINT) AS adc_dist_q12
            FROM assigned a
            JOIN lut l ON a.sub = l.sub AND a.code = l.code
            WHERE a.vec_id <> l.query_id
            GROUP BY l.query_id, a.vec_id
        )
        SELECT query_id, match_id, adc_dist_q12,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist_q12, match_id)
                    AS INT) AS rank
        FROM scored
        QUALIFY rank <= {_TOPK}
    """,
}
