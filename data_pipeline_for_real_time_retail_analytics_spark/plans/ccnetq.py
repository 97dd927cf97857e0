"""CCNet-style per-language perplexity bucketing.

The canonical web-corpus quality split (CCNet, Wenzek et al. 2020):
score every document with a corpus-level language model, then cut each
LANGUAGE's documents into head / middle / tail thirds by perplexity —
head is the cleanest slice, tail is the usual drop candidate, and the
split being per-language keeps low-resource languages from being
graded against English's perplexity scale.

Engine mapping: the LM is the registered add-0.5 bigram model
(operators/lm.py, query ``lm_perplexity``); bucket boundaries are
RANK thirds (``3·rank ≤ n`` / ``3·rank ≤ 2n``), not percentile VALUES
— integer arithmetic on both engines, no interpolated-percentile
float surface anywhere. Rank ties break on doc_id; the nll_bits double
being compared is bit-identical across engines (micro-unit-quantized
sum divided by exact integers), so the per-language orderings agree
exactly.

Scale: scoring is the lm_perplexity shape (vocabulary-bounded
shuffles); bucketing adds one rank window per language partition. At
100 TB a deployment computes the two cut VALUES per language on a
sample and broadcasts them as plain filters (the CCNet paper's own
procedure) instead of ranking the full corpus; the rank form is the
exact-oracle-checkable equivalent at registry scale and the docstring
of record for that substitution.

Reference parity: the reference has no corpus-quality surface (its
transformation layer is dbt-declared scaffolding,
config/pipelines/sample_pipeline.yaml:55-99); this extends the mandated
LLM-curation suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.lm import score_bigram_lm
from .corpusbase import _docs
from .llm_oracles import LM_PERPLEXITY_ORACLE


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, nll_bits, bucket): every scored document with its
    per-language head/middle/tail perplexity third."""
    docs = _docs(spark, sf_dir)
    scored = score_bigram_lm(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("nll_bits", "doc_id")
    r = F.row_number().over(w)
    n = F.count(F.lit(1)).over(Window.partitionBy("lang"))
    return scored.select(
        "doc_id",
        "lang",
        "nll_bits",
        F.when(r * 3 <= n, F.lit("head"))
        .when(r * 3 <= n * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


#: the registered lm_perplexity oracle, stripped of its trailing ORDER
#: BY, reused as the scoring CTE so the two stay in lockstep by
#: construction (one definition of the quantized nll)
_SCORED_SQL = LM_PERPLEXITY_ORACLE.rsplit("ORDER BY", 1)[0]

QUERIES = {
    "ccnet_buckets": q_ccnet_buckets,
}

ORACLES: dict[str, str] = {
    "ccnet_buckets": rf"""
        WITH ppl AS ({_SCORED_SQL}),
        j AS (
            SELECT p.doc_id, d.lang, p.nll_bits,
                   row_number() OVER (
                       PARTITION BY d.lang ORDER BY p.nll_bits, p.doc_id
                   ) AS r,
                   COUNT(*) OVER (PARTITION BY d.lang) AS n
            FROM ppl p JOIN documents d USING (doc_id)
        )
        SELECT doc_id, lang, nll_bits,
               CASE WHEN r * 3 <= n THEN 'head'
                    WHEN r * 3 <= n * 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM j
    """,
}
