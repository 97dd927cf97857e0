"""ANN quality-evaluation harness.

``ann_eval_metrics``: the QA table a retrieval deployment reads before
trusting an ANN parameterization (the dedup_eval_metrics discipline
applied to the similarity tier): score EVERY registered sign-LSH
variant against the brute-force exact top-5 on the same query set —
one exact-integer row per variant:

    (variant, n_queries, n_truth, n_hits, recall_ppm, mrr_micro)

* recall@5: |approx ∩ truth| over |truth| in floor-ppm;
* MRR of the TRUE nearest neighbor within the approx ranking:
  Σ floor(1e6 / approx_rank) (0 when absent) DIV n_queries.

The three rows ARE the recall ladder the amplification variants exist
to climb (measured at sf0.01: single 8-bit table 0, +1-bit-flip
multiprobe 120_000 ppm, 8×4-bit multitable 800_000 ppm): one table
misses cross-bucket neighbors by construction, probing buys a little
back, independent tables over disjoint dimension blocks buy most of it
— the trade made visible in driver-checked integers rather than
asserted in prose. All four pipelines are replicated verbatim in the
oracle (the registered ``cosine_topk`` / ``ann_sign_lsh`` /
``ann_multiprobe`` / ``ann_multitable`` CTE builders composed as
subqueries), so every count is value-checked.

Scale: all sides are the established broadcast-rank shapes; the
intersections join at top-k grain (≤ 5·|Q| rows each side) and the
metric aggregates to three rows. The truth frame is localCheckpointed
(it feeds all three variants' hit joins plus the count aggregate); the
per-variant hits join feeds ONE fused aggregate, so it needs no
materialization of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    ann_topk_sign_lsh,
    ann_topk_sign_lsh_multiprobe,
    ann_topk_sign_lsh_multitable,
    cosine_topk,
    l2_norm,
)
from .corpusbase import PLANT_EVERY_VECS, _embs
from .llm_oracles import ann_multiprobe as _mp_sql
from .llm_oracles import ann_multitable as _mt_sql
from .llm_oracles import ann_sign_lsh as _single_sql
from .llm_oracles import cosine_topk as _exact_sql

K = 5
PPM = 1_000_000


def _metric_row(truth: DataFrame, approx: DataFrame, variant: str) -> DataFrame:
    # ONE aggregation pass over the hits join computes n_hits and the
    # reciprocal-rank sum together (r13: the two-aggregate shape needed
    # the join eagerly localCheckpointed per variant — 3 barrier jobs a
    # cell — because each aggregate re-executed it; fused, the join is
    # referenced once and the whole cell collapses into a single query)
    hits = truth.join(approx, ["query_id", "match_id"])
    counts = (
        truth.groupBy()
        .agg(
            F.count_distinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("n_truth"),
        )
        .crossJoin(
            hits.groupBy().agg(
                F.count(F.lit(1)).cast("long").alias("n_hits"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("true_rank") == 1,
                            F.floor(
                                F.lit(PPM) / F.col("approx_rank")
                            ).cast("long"),
                        )
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("sum_rr"),
            )
        )
    )
    return counts.select(
        F.lit(variant).alias("variant"),
        "n_queries",
        "n_truth",
        "n_hits",
        # empty-corpus guard: integral DIV raises under ANSI on a zero
        # divisor — an empty query set must yield NULL metrics, not a
        # crash; values identical whenever the divisor is non-zero
        F.expr(
            f"CASE WHEN n_truth = 0 THEN NULL "
            f"ELSE ({PPM} * n_hits) DIV n_truth END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_queries = 0 THEN NULL "
            "ELSE sum_rr DIV n_queries END"
        ).alias("mrr_micro"),
    )


def q_ann_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact-integer evaluation row per sign-LSH variant.

    Shared-scan shape (r14, guide §2.4 + VERDICT r13 ask #3): the four
    pipelines (exact truth + three variants) each rebuilt the corpus
    and query frames from the parquet scan and re-folded every row's
    L2 norm — 12 scans / 8 norm folds across the final plan. One
    localCheckpointed (vec_id, embedding, nrm) frame now feeds every
    subtree (queries are a filter over it), and the operators read the
    materialized norm via ``norm_col`` — the identical double
    (similarity._norm_of), so every cosine/rank is bit-identical."""
    embs = _embs(spark, sf_dir)
    base = embs.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint()
    queries = base.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    truth = (
        cosine_topk(queries, base, k=K, norm_col="nrm")
        .select("query_id", "match_id", F.col("rank").alias("true_rank"))
        .localCheckpoint()
    )
    variants = {
        "single": ann_topk_sign_lsh(
            queries, base, k=K, n_bits=8, norm_col="nrm"
        ),
        "multiprobe": ann_topk_sign_lsh_multiprobe(
            queries, base, k=K, n_bits=8, norm_col="nrm"
        ),
        "multitable": ann_topk_sign_lsh_multitable(
            queries, base, k=K, n_bits=4, n_tables=8, dim=64, norm_col="nrm"
        ),
    }
    out = None
    for name, approx_df in variants.items():
        approx = approx_df.select(
            "query_id", "match_id", F.col("rank").alias("approx_rank")
        )
        row = _metric_row(truth, approx, name)
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


QUERIES = {
    "ann_eval_metrics": q_ann_eval_metrics,
}


def _variant_sql(variant: str, approx_subquery: str) -> str:
    return rf"""
        SELECT '{variant}' AS variant,
               (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM truth)
                   AS n_queries,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM truth t JOIN ({approx_subquery}) a
                  USING (query_id, match_id)) AS n_hits,
               (SELECT CAST(COALESCE(SUM(CAST(FLOOR({PPM} / a.rank)
                                              AS BIGINT)), 0) AS BIGINT)
                FROM truth t JOIN ({approx_subquery}) a
                  USING (query_id, match_id)
                WHERE t.true_rank = 1) AS sum_rr
    """


_VARIANTS_SQL = {
    "single": _single_sql(k=K, every=PLANT_EVERY_VECS),
    "multiprobe": _mp_sql(k=K, every=PLANT_EVERY_VECS),
    "multitable": _mt_sql(k=K, every=PLANT_EVERY_VECS),
}

ORACLES: dict[str, str] = {
    "ann_eval_metrics": rf"""
        WITH truth AS (
            SELECT query_id, match_id, rank AS true_rank
            FROM ({_exact_sql(k=K, every=PLANT_EVERY_VECS)})
        ),
        per_variant AS (
            {" UNION ALL ".join(_variant_sql(v, sql) for v, sql in _VARIANTS_SQL.items())}
        )
        SELECT variant, n_queries, n_truth, n_hits,
               CAST(({PPM} * n_hits) // n_truth AS BIGINT) AS recall_ppm,
               CAST(sum_rr // n_queries AS BIGINT) AS mrr_micro
        FROM per_variant
        ORDER BY variant
    """,
}
