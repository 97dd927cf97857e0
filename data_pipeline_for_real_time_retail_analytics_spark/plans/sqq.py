"""Scalar-quantization queries (operators/sq.py).

Two registered shapes, completing the compression spectrum next to
product quantization (plans/pqq.py — 16-64× lossy): SQ8 is the 4×
near-exact tier every vector deployment runs first.

* ``sq8_code_rows`` — the exploded int8 layout (vec_id, pos, code)
  under corpus-derived per-dimension symmetric scales.
* ``sq8_topk`` — approximate dot-product top-5 for the standard query
  set, scored from codes with per-term micro-unit quantization: every
  score is an exact BIGINT on both engines.

Oracle mirroring: code = floor(x/scale·127 + 0.5) clamped — plain IEEE
ops (the resampleq floor-anchor lesson; engines' ROUND(double) differ
at .5 boundaries, floor+0.5 cannot); score terms are
floor((qc·cc)·(scale²/127²)·1e6 + 0.5) with the EXACT operation order
mirrored, summed as integers. All float literals in the SQL are CAST
to DOUBLE (the r6 decimal-literal rule).

Reference parity: no vector surface exists in the reference (its
transformation layer is dbt-declared scaffolding,
config/pipelines/sample_pipeline.yaml:55-99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sq import sq8_codes, sq8_scales, sq8_topk
from .corpusbase import PLANT_EVERY_VECS, _embs

_TOPK = 5


def q_sq8_code_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded int8 codes for the whole corpus."""
    embs = _embs(spark, sf_dir)
    return sq8_codes(embs, sq8_scales(embs))


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate dot-product top-5 per standard query vector.

    The scales frame is localCheckpointed: sq8_topk references it three
    times (corpus codes, query codes, per-dim weights) and Spark cannot
    reuse an un-materialized subtree across broadcasts — without the
    checkpoint the plan re-scans and re-explodes the corpus for EACH
    reference (three full aggregate scans, plan-verified). The frame is
    dim-sized (64 rows), so materializing it is free.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    scales = sq8_scales(embs).localCheckpoint()
    return sq8_topk(queries, embs, scales, k=_TOPK)


_D = "CAST({} AS DOUBLE)"
_CODES = f"""
    ex AS (
        SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
               unnest(embedding) AS x
        FROM embeddings
    ),
    scales AS (
        SELECT pos, MAX(ABS(CAST(x AS DOUBLE))) AS scale
        FROM ex GROUP BY pos
    ),
    codes AS (
        SELECT vec_id, pos,
               CASE WHEN scale = {_D.format("0.0")} THEN 0
                    ELSE GREATEST(LEAST(CAST(floor(
                        CAST(x AS DOUBLE) / scale * {_D.format("127.0")}
                        + {_D.format("0.5")}) AS INT), 127), -127)
               END AS code
        FROM ex JOIN scales USING (pos)
    )
"""

QUERIES = {
    "sq8_code_rows": q_sq8_code_rows,
    "sq8_topk": q_sq8_topk,
}

ORACLES: dict[str, str] = {
    "sq8_code_rows": f"""
        WITH {_CODES}
        SELECT vec_id, pos, code FROM codes
    """,
    "sq8_topk": f"""
        WITH {_CODES},
        qc AS (
            SELECT c.vec_id AS query_id, c.pos, c.code AS qcode,
                   s.scale * s.scale / {_D.format("16129.0")} AS w
            FROM codes c JOIN scales s USING (pos)
            WHERE c.vec_id % {PLANT_EVERY_VECS} = 0
        ),
        scored AS (
            SELECT q.query_id, c.vec_id AS match_id,
                   CAST(SUM(CAST(floor(
                       CAST(q.qcode * c.code AS DOUBLE) * q.w
                       * {_D.format("1000000.0")} + {_D.format("0.5")})
                       AS BIGINT)) AS BIGINT) AS dot_q6
            FROM codes c JOIN qc q USING (pos)
            WHERE c.vec_id <> q.query_id
            GROUP BY q.query_id, c.vec_id
        )
        SELECT query_id, match_id, dot_q6,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY dot_q6 DESC, match_id)
                    AS INT) AS rank
        FROM scored
        QUALIFY rank <= {_TOPK}
    """,
}
