"""Dedup quality-evaluation harness.

``dedup_eval_metrics``: score the MinHash-LSH near-dup detector against
the corpus's PLANTED ground truth — (n_truth, n_found, tp, fp, fn,
precision_ppm, recall_ppm) as one exact-integer row. This is the QA
surface every production dedup deployment runs before trusting a
parameterization (num_perm/bands/threshold trade recall for cost;
this row is where that trade becomes a number), and it composes two
existing proven pieces: the shared pair materialization
(plans/llm.planted_minhash_pairs — the same frame that feeds
minhash_lsh_dupes and dedup_clusters) and the deterministic planting
convention (plant_near_dups: every 25th doc mutated under
id+10,000,000).

Recall is intentionally NOT 1.0 by construction: a planted mutant of a
very short document loses most of its shingles with the 2 dropped
words and legitimately falls under the 0.5 Jaccard threshold — the
metric row is where that detector property is VISIBLE instead of
assumed. The oracle recomputes both sides (the full md5-simulated
MinHash pipeline of llm_oracles plus the planting rule) so every count
is value-checked, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import ws_tokens
from . import llm_oracles as LO
from .corpusbase import ID_OFFSET, PLANT_EVERY_DOCS, _docs, planted_minhash_pairs

PPM = 1_000_000
#: plant_near_dups' drop_words — a doc needs more tokens than this to
#: produce a mutant
_DROP_WORDS = 2


def q_dedup_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact-integer metrics row for the registry's MinHash
    parameterization (12/3 @ 0.5) against the planted truth."""
    found = planted_minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("__f")
    )
    toks = ws_tokens(F.col("text"))
    truth = (
        _docs(spark, sf_dir)
        .where(
            (F.col("doc_id") % PLANT_EVERY_DOCS == 0)
            & (F.size(toks) > _DROP_WORDS)
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + ID_OFFSET).alias("doc_b"),
            F.lit(1).alias("__t"),
        )
    )
    j = found.join(truth, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum("__t").cast("long").alias("n_truth"),
        F.sum("__f").cast("long").alias("n_found"),
        F.sum(F.col("__f") * F.col("__t")).cast("long").alias("tp"),
    )
    return agg.select(
        "n_truth",
        "n_found",
        "tp",
        (F.col("n_found") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        F.expr(f"({PPM} * tp) DIV nullif(n_found, 0)").alias("precision_ppm"),
        F.expr(f"({PPM} * tp) DIV nullif(n_truth, 0)").alias("recall_ppm"),
    )


QUERIES = {
    "dedup_eval_metrics": q_dedup_eval_metrics,
}

ORACLES: dict[str, str] = {
    # the found-side CTEs are the full md5-simulated MinHash pipeline —
    # composed from the same generator the minhash_lsh_dupes oracle uses
    "dedup_eval_metrics": f"""
        WITH {LO._minhash_pair_ctes(12, 3, 0.5)},
        truth AS (
            SELECT doc_id AS doc_a, doc_id + {ID_OFFSET} AS doc_b
            FROM documents
            WHERE doc_id % {PLANT_EVERY_DOCS} = 0
              AND len(string_split(text, ' ')) > {_DROP_WORDS}
        ),
        j AS (
            SELECT COALESCE(f.doc_a, t.doc_a) AS doc_a,
                   CASE WHEN f.doc_a IS NOT NULL THEN 1 END AS __f,
                   CASE WHEN t.doc_a IS NOT NULL THEN 1 END AS __t
            FROM (SELECT doc_a, doc_b FROM pairs) f
            FULL OUTER JOIN truth t
              ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
        ),
        agg AS (
            SELECT CAST(SUM(__t) AS BIGINT) AS n_truth,
                   CAST(SUM(__f) AS BIGINT) AS n_found,
                   CAST(SUM(__f * __t) AS BIGINT) AS tp
            FROM j
        )
        SELECT n_truth, n_found, tp,
               n_found - tp AS fp,
               n_truth - tp AS fn,
               CAST(({PPM} * tp) // NULLIF(n_found, 0) AS BIGINT)
                   AS precision_ppm,
               CAST(({PPM} * tp) // NULLIF(n_truth, 0) AS BIGINT)
                   AS recall_ppm
        FROM agg
    """,
}
