"""KMV distinct-count sketch queries (operators/kmv.py).

``kmv_distinct_tokens``: per-source bottom-256 sketch of the token
vocabulary — (source, n_kept, kth_hash, est_distinct, exact_distinct).
The estimate column is deterministic (integer hashes and ranks, ONE
IEEE-exact double division, floor(x+0.5) integerization), so the
DuckDB oracle matches bit-for-bit, and carrying the exact distinct in
the same row makes the sketch's error visible in the output itself.

``kmv_union_tokens``: the per-source sketches MERGED into one global
estimate (bottom-k of the concatenated sketch rows) next to the exact
global distinct — the roll-up that never re-touches the data, the
whole reason to keep sketches at 100 TB.

The distinct-hash frame is referenced twice per query (sketch + exact
count) → localCheckpoint, the shared-frames rule (NOTES r7: any frame
referenced N≥2 times across exchange boundaries re-executes its
subtree N times unless materialized). It is vocabulary-bounded —
(source, distinct token hash) — far smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmv import (
    HASH_BITS,
    bottom_k_hashes,
    distinct_hashes,
    kmv_estimate,
    merge_kmv_estimate,
)
from ..operators.textstats import ws_tokens
from .corpusbase import _docs
from .llm_oracles import TOKS

K = 256
N_SALTS = 32

_DOMAIN_LIT = f"CAST({1 << HASH_BITS} AS DOUBLE)"


def _hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(ws_tokens(F.col("text"))).alias("t")
    )
    return distinct_hashes(toks, "t", ["source"]).localCheckpoint()


def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV vocabulary estimate next to the exact distinct."""
    hashed = _hashed(spark, sf_dir)
    est = kmv_estimate(bottom_k_hashes(hashed, ["source"], K, N_SALTS), ["source"], K)
    exact = hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return est.join(exact, "source").orderBy("source")


def q_kmv_union_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global estimate from MERGED per-source sketches (one row)."""
    hashed = _hashed(spark, sf_dir)
    sketch = bottom_k_hashes(hashed, ["source"], K, N_SALTS)
    merged = merge_kmv_estimate(sketch, K)
    exact = hashed.select("h").distinct().groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return merged.join(F.broadcast(exact), how="cross")


_KMV_CTES = rf"""
        toks AS (
            SELECT source, unnest({TOKS}) AS t FROM documents
        ),
        hashed AS (
            SELECT DISTINCT source,
                   CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
            FROM toks
        ),
        ranked AS (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM hashed
        ),
        sk AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   MAX(h) AS kth_hash
            FROM ranked WHERE rk <= {K} GROUP BY source
        )
"""

QUERIES = {
    "kmv_distinct_tokens": q_kmv_distinct_tokens,
    "kmv_union_tokens": q_kmv_union_tokens,
}

ORACLES: dict[str, str] = {
    "kmv_distinct_tokens": rf"""
        WITH {_KMV_CTES},
        ex AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
            FROM hashed GROUP BY source
        )
        SELECT s.source, s.n_kept, s.kth_hash,
               CASE WHEN s.n_kept < {K} THEN s.n_kept
                    ELSE CAST(floor(
                        CAST({K - 1} AS DOUBLE) * {_DOMAIN_LIT}
                        / CAST(s.kth_hash AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        AS BIGINT) END AS est_distinct,
               ex.exact_distinct
        FROM sk s JOIN ex USING (source)
        ORDER BY source
    """,
    "kmv_union_tokens": rf"""
        WITH {_KMV_CTES},
        pooled AS (
            SELECT DISTINCT h FROM ranked WHERE rk <= {K}
        ),
        merged AS (
            SELECT h, row_number() OVER (ORDER BY h) AS rk FROM pooled
        ),
        msk AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash
            FROM merged WHERE rk <= {K}
        ),
        ex AS (
            SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct
            FROM hashed
        )
        SELECT m.n_kept, m.kth_hash,
               CASE WHEN m.n_kept < {K} THEN m.n_kept
                    ELSE CAST(floor(
                        CAST({K - 1} AS DOUBLE) * {_DOMAIN_LIT}
                        / CAST(m.kth_hash AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        AS BIGINT) END AS est_distinct,
               ex.exact_distinct
        FROM msk m, ex
    """,
}
