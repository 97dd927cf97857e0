"""Training-corpus composition operators, second batch (driver
correctness gate): temperature resampling across languages, per-source
quality quota pruning, and the dedup-rate-by-source report.

Beyond-reference scope (the reference pipeline stops at warehouse
marts); companions to plans/training.py — kept in their own module so
this round's additions do not touch the files backing already-proven
queries.

Cross-engine determinism notes (oracle twins hash values):
* temperature weights use α = 0.5, i.e. sqrt — the ONE power IEEE 754
  requires to be correctly rounded, so Spark and DuckDB agree to the
  bit. The weight normalizer is integerized (floor(sqrt(c)·10⁶) summed
  as BIGINT) so the cross-stratum sum is exact integer arithmetic with
  no float fold-order sensitivity; every remaining float step is a
  single IEEE op over identical inputs.
* the quota cut ceil(0.4·n) is computed in integers ((4n+9) div 10) —
  no 0.4 binary-fraction artifact can shift the boundary rank.
* membership is the md5 hash-bucket rule shared with
  operators/sampling.py — reproducible across runs, partitionings, and
  engines.

Plan notes (the 100 TB shapes):
* `lang_temperature_sample` aggregates per-language counts (a handful
  of groups, partial-aggregated map-side), derives thresholds on that
  tiny frame, and broadcasts them back — the same plan at any scale;
  the output is the per-language summary, so nothing data-sized ever
  reaches the driver.
* `quality_quota_prune` windows partition by source — bounded per-group
  state, no global sort.
* `dup_rate_by_source` reuses the pipeline-shared MinHash pair
  materialization (plans/llm.py:planted_minhash_pairs) — zero extra
  signature/banding work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import plant_near_dups
from ..operators.sampling import BUCKETS, hash_bucket
from .corpusbase import ID_OFFSET, PLANT_EVERY_DOCS, _docs, planted_minhash_pairs
from .llm_oracles import _BUCKET10K, _minhash_pair_ctes

#: temperature-sampling target corpus size multiplier (T = N · SCALE)
TEMP_SCALE = 0.6
#: quality quota — keep the top KEEP_NUM/KEEP_DEN of each source
KEEP_NUM, KEEP_DEN = 4, 10


def q_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature resampling across languages (the multilingual
    rebalancing rule of mT5/XLM-R): rare languages are upweighted toward
    sqrt-proportional shares, head languages thinned. Per language:
    weight w_l ∝ floor(sqrt(c_l)·10⁶) (exact-integer normalizer), keep
    rate r_l = min(1, T·w_l/c_l) with T = TEMP_SCALE·N, membership =
    hash bucket < floor(r_l·10⁴). Output is the per-language summary
    (docs, threshold, sampled count, weight)."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1_000_000.0))
        .cast("long")
        .alias("s_int"),
    )
    norm = weights.agg(
        F.sum("s_int").alias("s_total"), F.sum("n_docs").alias("n_total")
    )
    thr = weights.join(F.broadcast(norm), how="cross").select(
        "lang",
        "n_docs",
        F.round(
            F.col("s_int").cast("double") / F.col("s_total").cast("double"), 6
        ).alias("weight"),
        F.floor(
            F.least(
                F.lit(1.0),
                (F.lit(TEMP_SCALE) * F.col("n_total").cast("double"))
                * (F.col("s_int").cast("double") / F.col("s_total").cast("double"))
                / F.col("n_docs").cast("double"),
            )
            * F.lit(float(BUCKETS))
        )
        .cast("long")
        .alias("thr"),
    )
    sampled = (
        docs.join(F.broadcast(thr.select("lang", "thr")), "lang")
        .where(hash_bucket(F.col("doc_id")) < F.col("thr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        thr.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "weight",
            "thr",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


def q_quality_quota_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota: keep each source's top 40% documents by
    an integer quality key (distinct-token count · 10⁵ + token count —
    lexical richness first, length second; doc_id tiebreak). The cut
    rank ceil(0.4·n) is exact integer arithmetic. Returns the kept docs
    with their quality rank."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    scored = docs.select(
        "doc_id",
        "source",
        (
            F.size(F.array_distinct(toks)).cast("long") * F.lit(100_000)
            + F.size(toks).cast("long")
        ).alias("q_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("q_key").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("source")
    return (
        scored.withColumn("q_rank", F.row_number().over(w))
        .withColumn("n_src", F.count(F.lit(1)).over(wc))
        .where(
            F.col("q_rank")
            <= F.expr(f"(n_src * {KEEP_NUM} + {KEEP_DEN - 1}) div {KEEP_DEN}")
        )
        .select("doc_id", "source", "q_key", "q_rank")
        .orderBy("doc_id")
    )


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication pressure per source: of each source's documents
    (planted corpus), how many participate in a verified MinHash
    near-dup pair. Reuses the pipeline-shared pair materialization —
    the report costs one explode + two small aggregates on top of it."""
    planted = plant_near_dups(
        _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
    )
    pairs = planted_minhash_pairs(spark, sf_dir)
    involved = (
        pairs.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id")
        )
        .distinct()
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    per_source = planted.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_source.join(involved, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_dup_docs"), F.lit(0)).alias("n_dup_docs"),
            F.round(
                F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


QUERIES = {
    "lang_temperature_sample": q_lang_temperature_sample,
    "quality_quota_prune": q_quality_quota_prune,
    "dup_rate_by_source": q_dup_rate_by_source,
}

ORACLES: dict[str, str] = {
    "lang_temperature_sample": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ),
        weights AS (
            SELECT lang, n_docs,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0)
                        AS BIGINT) AS s_int
            FROM counts
        ),
        norm AS (
            SELECT SUM(s_int) AS s_total, SUM(n_docs) AS n_total FROM weights
        ),
        thr AS (
            SELECT lang, n_docs,
                   ROUND(CAST(s_int AS DOUBLE) / CAST(s_total AS DOUBLE), 6)
                       AS weight,
                   CAST(floor(least(1.0,
                        ({TEMP_SCALE} * CAST(n_total AS DOUBLE))
                        * (CAST(s_int AS DOUBLE) / CAST(s_total AS DOUBLE))
                        / CAST(n_docs AS DOUBLE)) * 10000.0) AS BIGINT) AS thr
            FROM weights CROSS JOIN norm
        ),
        sampled AS (
            SELECT d.lang, COUNT(*) AS n_sampled
            FROM documents d JOIN thr t ON d.lang = t.lang
            WHERE {_BUCKET10K} < t.thr
            GROUP BY d.lang
        )
        SELECT t.lang, t.n_docs, t.weight, t.thr,
               COALESCE(s.n_sampled, 0) AS n_sampled
        FROM thr t LEFT JOIN sampled s ON t.lang = s.lang
        ORDER BY t.lang
    """,
    "quality_quota_prune": rf"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(list_distinct(regexp_split_to_array(trim(text),
                        '\s+'))) AS BIGINT) * 100000
                   + CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS q_key
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, q_key,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY q_key DESC, doc_id ASC) AS q_rank,
                   COUNT(*) OVER (PARTITION BY source) AS n_src
            FROM scored
        )
        SELECT doc_id, source, q_key, q_rank
        FROM ranked
        WHERE q_rank <= (n_src * {KEEP_NUM} + {KEEP_DEN - 1}) // {KEEP_DEN}
        ORDER BY doc_id
    """,
    "dup_rate_by_source": rf"""
        WITH {_minhash_pair_ctes()},
        involved AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM pairs
                UNION ALL
                SELECT doc_b AS doc_id FROM pairs
            )
        ),
        dup_by_src AS (
            SELECT c.source, COUNT(*) AS n_dup_docs
            FROM involved i JOIN corpus c ON i.doc_id = c.doc_id
            GROUP BY c.source
        ),
        per_source AS (
            SELECT source, COUNT(*) AS n_docs FROM corpus GROUP BY source
        )
        SELECT p.source, p.n_docs,
               COALESCE(d.n_dup_docs, 0) AS n_dup_docs,
               ROUND(CAST(COALESCE(d.n_dup_docs, 0) AS DOUBLE)
                     / CAST(p.n_docs AS DOUBLE), 4) AS dup_rate
        FROM per_source p LEFT JOIN dup_by_src d ON p.source = d.source
        ORDER BY p.source
    """,
}
