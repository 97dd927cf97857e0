"""Weighted corpus sampling via priority sampling.

``priority_sample_docs``: a deterministic Duffield–Lund–Thorup
weighted sample of the corpus, k = 100, weighted by document length
(n_chars — the per-doc token-cost proxy), with the τ-threshold
estimator column that makes any subset's total weight unbiasedly
estimable from the sample alone. This is the missing member of the
sampling tier: stratified_sample_docs keys inclusion on strata,
mixture_sample_docs hits target proportions, temperature_resample
reweights languages — none of them lets ITEM weight drive inclusion.
Priority sampling does, one pass, no replacement, exact integers.

See operators/prioritysample.py for the portable-hash priority
construction (no transcendentals — BIGINT floor arithmetic that Spark
and DuckDB compute identically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prioritysample import _U_SCALE, priority_sample
from ..sources import load_table

#: sample size
K = 100


def q_priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, weight, priority, rank, est_weight) for
    the k = 100 largest-priority documents, ascending rank."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return (
        priority_sample(
            docs, k=K, weight_col="n_chars", id_col="doc_id", salt="ps"
        )
        .select(
            "doc_id", "lang", "source", "weight", "priority", "rank",
            "est_weight",
        )
        .orderBy("rank")
    )


QUERIES = {
    "priority_sample_docs": q_priority_sample_docs,
}

ORACLES: dict[str, str] = {
    "priority_sample_docs": f"""
        WITH pri AS (
            SELECT doc_id, lang, source,
                   GREATEST(COALESCE(CAST(n_chars AS BIGINT), 1), 1)
                       AS weight,
                   GREATEST(COALESCE(CAST(n_chars AS BIGINT), 1), 1)
                       * {_U_SCALE}
                       // (CAST(concat('0x',
                                       substr(md5(CAST(doc_id AS VARCHAR)
                                                  || ':ps'), 1, 8))
                               AS BIGINT) + 1) AS priority
            FROM documents
            WHERE doc_id IS NOT NULL
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (ORDER BY priority DESC,
                                              doc_id) AS INT) AS rank
            FROM pri
        ),
        tau AS (
            SELECT COALESCE(MAX(CASE WHEN rank = {K + 1} THEN priority END),
                            0) AS tau
            FROM ranked
        )
        SELECT doc_id, lang, source, weight, priority, rank,
               CAST(GREATEST(weight, tau) AS BIGINT) AS est_weight
        FROM ranked CROSS JOIN tau
        WHERE rank <= {K}
        ORDER BY rank
    """,
}
