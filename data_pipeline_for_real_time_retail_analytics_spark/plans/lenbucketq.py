"""Sequence-length bucketing audit.

``length_bucket_stats``: assign every document to a power-of-two
token-length bucket (32, 64, …, 8192 — the length-grouped-batching
preprocessing step every training pipeline runs so batches pad to the
bucket cap instead of the global max) and report, per bucket, the
exact padding economics: document count, real token total, padded
token total (n · the bucket's own max length — batches pad to the
longest sequence in the bucket, the cap is just the grouping bound),
waste, and floor-ppm waste rate. The final
column — what the same documents would cost padded to the GLOBAL max
length — is the quantity bucketing exists to avoid; the gap between
the two is the measured win, computed from data, not asserted.

Exactness: the bucket ladder is an integer CASE chain (no log2
floats), everything downstream is counts, products, and one floor
division per row. Documents longer than the top bucket clamp into it
(their bucket_max still bounds the padding — the audit stays exact;
a production deployment re-sizes the ladder when the top bucket's
occupancy grows).

Scale shape: one per-row expression pass + a ~9-group aggregation +
one single-row global frame broadcast back — nothing grows with the
corpus except the first scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpusbase import _docs

#: power-of-two bucket caps (min 32, top 8192)
BUCKET_CAPS = [32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def _bucket_case_spark() -> F.Column:
    col = F.lit(BUCKET_CAPS[-1])
    for cap in reversed(BUCKET_CAPS[:-1]):
        col = F.when(F.col("n_tokens") <= cap, F.lit(cap)).otherwise(col)
    return col.cast("long")


def _bucket_case_sql() -> str:
    whens = " ".join(
        f"WHEN n_tokens <= {cap} THEN {cap}" for cap in BUCKET_CAPS[:-1]
    )
    return f"CAST(CASE {whens} ELSE {BUCKET_CAPS[-1]} END AS BIGINT)"


def q_length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket_cap, n_docs, sum_tokens, bucket_max, padded_tokens,
    waste_tokens, waste_ppm, naive_padded_tokens) per occupied
    bucket."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lens = docs.select(F.size(toks).cast("long").alias("n_tokens"))
    bucketed = lens.select("n_tokens", _bucket_case_spark().alias("bucket_cap"))
    per_bucket = bucketed.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.max("n_tokens").cast("long").alias("bucket_max"),
    )
    global_max = lens.agg(F.max("n_tokens").alias("gmax"))
    return (
        per_bucket.join(F.broadcast(global_max), how="cross")
        .select(
            "bucket_cap",
            "n_docs",
            "sum_tokens",
            "bucket_max",
            (F.col("n_docs") * F.col("bucket_max"))
            .cast("long")
            .alias("padded_tokens"),
            (F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens"))
            .cast("long")
            .alias("waste_tokens"),
            F.expr(
                "CAST((1000000 * (n_docs * bucket_max - sum_tokens))"
                " DIV (n_docs * bucket_max) AS BIGINT)"
            ).alias("waste_ppm"),
            (F.col("n_docs") * F.col("gmax"))
            .cast("long")
            .alias("naive_padded_tokens"),
        )
        .orderBy("bucket_cap")
    )


QUERIES = {
    "length_bucket_stats": q_length_bucket_stats,
}

ORACLES: dict[str, str] = {
    "length_bucket_stats": rf"""
        WITH lens AS (
            SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        bucketed AS (
            SELECT n_tokens, {_bucket_case_sql()} AS bucket_cap FROM lens
        ),
        per_bucket AS (
            SELECT bucket_cap,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(MAX(n_tokens) AS BIGINT) AS bucket_max
            FROM bucketed GROUP BY bucket_cap
        ),
        g AS (SELECT CAST(MAX(n_tokens) AS BIGINT) AS gmax FROM lens)
        SELECT bucket_cap, n_docs, sum_tokens, bucket_max,
               CAST(n_docs * bucket_max AS BIGINT) AS padded_tokens,
               CAST(n_docs * bucket_max - sum_tokens AS BIGINT)
                   AS waste_tokens,
               CAST((1000000 * (n_docs * bucket_max - sum_tokens))
                    // (n_docs * bucket_max) AS BIGINT) AS waste_ppm,
               CAST(n_docs * g.gmax AS BIGINT) AS naive_padded_tokens
        FROM per_bucket CROSS JOIN g
        ORDER BY bucket_cap
    """,
}
