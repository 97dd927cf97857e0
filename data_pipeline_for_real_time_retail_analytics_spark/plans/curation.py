"""Corpus-curation showcase queries: cross-document boilerplate spans
and target-mixture sampling (driver correctness gate).

Companions to plans/llm.py — same planted corpus, same oracle style
(md5-arithmetic DuckDB SQL that mirrors the Spark plan step for step) —
kept in their own module so the round's additions do not touch the
files backing previously-proven queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import boilerplate_ngrams, plant_near_dups
from ..operators.mixture import target_mixture_sample
from .corpusbase import ID_OFFSET, PLANT_EVERY_DOCS, _docs
from .llm_oracles import _BUCKET10K, PLANTED, TOKS

#: target training-mix proportions over the synthetic corpus languages
MIXTURE_TARGETS = {"en": 0.4, "es": 0.2, "fr": 0.2, "de": 0.1, "zh": 0.1}


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-grams over the planted corpus (the
    mutant copies share almost every span with their originals, so the
    probe has dense known positives) with bounded posting lists
    (operators/dedup.py:boilerplate_ngrams)."""
    planted = plant_near_dups(
        _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
    )
    return boilerplate_ngrams(planted, n=5, min_docs=2).orderBy(
        F.desc("df"), "gram"
    )


def q_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus downsampled to the target language mixture — the binding
    stratum (largest n_c/p_c deficit) survives whole, every other
    language thins to proportion, membership is the deterministic
    hash-bucket rule (operators/mixture.py:target_mixture_sample)."""
    sampled = target_mixture_sample(
        _docs(spark, sf_dir), "doc_id", "lang", targets=MIXTURE_TARGETS
    )
    return sampled.select("doc_id", "lang").orderBy("doc_id")


def _mixture_targets_case() -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in MIXTURE_TARGETS.items()
    )
    return f"CASE lang {arms} END"


QUERIES = {
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "mixture_sample_docs": q_mixture_sample_docs,
}

ORACLES: dict[str, str] = {
    "boilerplate_ngrams": rf"""
        WITH {PLANTED},
        tokd AS (SELECT doc_id, {TOKS} AS w FROM corpus),
        grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(w) - 3),
                       i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS gram
            FROM tokd WHERE len(w) >= 5
        ),
        dfreq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
        kept AS (SELECT gram, df FROM dfreq WHERE df >= 2),
        posts AS (
            SELECT gram,
                   array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
                       AS postings
            FROM grams
            WHERE gram IN (SELECT gram FROM kept WHERE df <= 1000)
            GROUP BY gram
        )
        SELECT k.gram, k.df, p.postings
        FROM kept k LEFT JOIN posts p USING (gram)
        ORDER BY k.df DESC, k.gram
    """,
    "mixture_sample_docs": rf"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n, {_mixture_targets_case()} AS p
            FROM documents GROUP BY lang
        ),
        tt AS (SELECT MIN(n / p) AS t FROM counts WHERE p IS NOT NULL),
        thr AS (
            SELECT lang, floor(t * p / n * 10000) AS thr
            FROM counts, tt WHERE p IS NOT NULL
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN thr ON d.lang = thr.lang
        WHERE {_BUCKET10K} < thr.thr
        ORDER BY d.doc_id
    """,
}
