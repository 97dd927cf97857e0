"""IVF-PQ composed ANN (Jégou et al. 2011's full architecture).

``ivfpq_topk`` composes the engine's two ANN substrates into the shape
production vector stores (FAISS IVFPQ, SCANN) actually deploy at
scale: the IVF tier prunes the CANDIDATE SET (queries probe their
``N_PROBE`` nearest cells; cost per query = probed-cell occupancy,
never |corpus|), and the PQ tier prunes the BYTES (candidates are
scored by asymmetric distance against 4-bit codes + a broadcast
per-query lookup table — the corpus side of the scoring join carries
codes only, never raw embeddings). At 100 TB the cell is a write-time
partition of the code table: a query reads n_probe partitions of
packed words, nothing else.

Everything stays exact-integer (the pqq micro-unit quantization) and
deterministic (the ivf id-sample codebook), so the oracle — the IVF
cell CTEs of llm_oracles.ann_ivf composed with the codebook/LUT CTEs
of plans/pqq — matches bit-for-bit including rank ties.

Component parity already held separately (``ann_ivf``,
``pq_topk_adc``, both driver-green r8); this pair proves the
COMPOSITION: candidate restriction and ADC scoring agree across
engines end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pq import pq_assignments, pq_codebooks, _qdist
from ..operators.similarity import _assign_cells, ivf_centroids
from .corpusbase import PLANT_EVERY_VECS, _embs
from .pqq import PQ_K, PQ_M, _CODEBOOK, _ASSIGN, _SUB_DIM, _term

N_CELLS = 16
N_PROBE = 2
TOPK = 5


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, match_id, adc_dist_q12, rank): ADC top-5 over the
    probed-cell candidates only."""
    embs = _embs(spark, sf_dir)
    # both small frames are referenced twice (corpus + query side);
    # un-materialized they re-run their full-corpus TakeOrdered scans
    # (the pqq/sq8 scales lesson). The two eager builds are independent
    # of each other — overlap them (r14, guide §2.6) instead of running
    # the second build's scan after the first one's tail drains.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cb = pool.submit(pq_codebooks(embs, m=PQ_M, k=PQ_K).localCheckpoint)
        f_ce = pool.submit(ivf_centroids(embs, N_CELLS).localCheckpoint)
        cb, cents = f_cb.result(), f_ce.result()

    corpus_cells = _assign_cells(
        embs, cents, "match_id", "cv2", 1, "vec_id", "embedding"
    ).select("match_id", "cell")
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    query_cells = _assign_cells(
        queries, cents, "query_id", "qv", N_PROBE, "vec_id", "embedding"
    ).select("query_id", "cell")
    candidates = (
        corpus_cells.join(query_cells, "cell")
        .where(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )

    assigned = pq_assignments(embs, cb)  # (vec_id, sub, code) — codes only
    sub_dim = F.size("scv")
    lut = queries.join(F.broadcast(cb), how="cross").select(
        F.col("vec_id").alias("query_id"),
        "sub",
        "code",
        _qdist(
            F.slice(
                F.col("embedding"),
                (F.col("sub") * sub_dim + 1).cast("int"),
                sub_dim.cast("int"),
            ),
            F.col("scv"),
        ).alias("qd"),
    )
    scored = (
        candidates.join(
            assigned, candidates.match_id == assigned.vec_id
        )
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("qd").alias("adc_dist_q12"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist_q12", "match_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "match_id", "adc_dist_q12", "rank")
        .orderBy("query_id", "rank")
    )


#: cosine in exact arithmetic — mirror of llm_oracles._cosine, inlined
#: to keep this module self-contained
def _cos(a: str, b: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))))"
    )


QUERIES = {
    "ivfpq_topk": q_ivfpq_topk,
}

ORACLES: dict[str, str] = {
    "ivfpq_topk": f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cv
            FROM embeddings ORDER BY vec_id LIMIT {N_CELLS}
        ),
        csims AS (
            SELECT vec_id, cid, {_cos("embedding", "cv")} AS csim
            FROM embeddings, cents
        ),
        corpus_cells AS (
            SELECT match_id, cell FROM (
                SELECT vec_id AS match_id, cid AS cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, cid DESC) AS rn
                FROM csims
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id % {PLANT_EVERY_VECS} = 0),
        qsims AS (
            SELECT query_id, cid AS cell, {_cos("qv", "cv")} AS csim
            FROM q, cents
        ),
        query_cells AS (
            SELECT query_id, cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY csim DESC, cell DESC)
                              AS crank
                FROM qsims
            ) WHERE crank <= {N_PROBE}
        ),
        cands AS (
            SELECT DISTINCT query_id, match_id
            FROM corpus_cells JOIN query_cells USING (cell)
            WHERE query_id <> match_id
        ),
        {_CODEBOOK},
        {_ASSIGN},
        lut AS (
            SELECT qq.vec_id AS query_id, cb.sub, cb.code,
                   CAST(list_sum({_term("qq.embedding", "cb.scv", f"cb.sub * {_SUB_DIM}")})
                        AS BIGINT) AS qd
            FROM embeddings qq CROSS JOIN cb
            WHERE qq.vec_id % {PLANT_EVERY_VECS} = 0
        ),
        scored AS (
            SELECT c.query_id, c.match_id,
                   CAST(SUM(l.qd) AS BIGINT) AS adc_dist_q12
            FROM cands c
            JOIN assigned a ON a.vec_id = c.match_id
            JOIN lut l ON l.query_id = c.query_id
                      AND l.sub = a.sub AND l.code = a.code
            GROUP BY c.query_id, c.match_id
        )
        SELECT query_id, match_id, adc_dist_q12,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist_q12, match_id)
                    AS INT) AS rank
        FROM scored
        QUALIFY rank <= {TOPK}
        ORDER BY query_id, rank
    """,
}
