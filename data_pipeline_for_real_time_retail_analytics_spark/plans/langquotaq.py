"""Per-language quality-quota corpus composition.

``lang_quality_mix``: the mixture × quota composition the r9 verdict
lists as surface-growth ask #8c. Two registered tiers compose:

* HOW MANY per language — α=0.5 temperature shares (the mT5/XLM-R
  rebalancing rule, same integer weight arithmetic as
  ``lang_temperature_sample``): language l gets
  ``target_l = (keep_total · s_l) // s_total`` slots, where
  ``s_l = floor(sqrt(c_l)·10⁶)`` and ``keep_total = (2·N) // 5``
  (a 40% corpus budget);
* WHICH documents fill them — each language's top ``target_l`` docs by
  the integer quality key of ``quality_quota_prune``
  (distinct-token count · 10⁵ + token count, doc_id tiebreak).

Output is the per-language audit row: corpus count, temperature
target, selected count (= min(target, available)), and the exact
integer sum of selected quality keys — the last column pins the
SELECTION itself, not just its size.

Exactness: sqrt is IEEE-correctly-rounded on both engines (identical
doubles for identical BIGINT inputs — the lang_temperature_sample
precedent); everything after the one floor() is integer. The
``keep_total · s_l`` product overflows BIGINT at 100 TB corpus sizes,
so it runs in DECIMAL(38,0) ↔ HUGEINT (the plans/skewq.py idiom).

Scale shape: scoring is per-row expressions; the per-language
row_number window shuffles once on lang — language is low-cardinality
and head-heavy, but the window's sort is bounded by the language's own
row count (the hot-key probe argument in NOTES.md), and the quota targets
come from a language-count frame that is KB-sized at any corpus scale
(broadcast join back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpusbase import _docs

#: corpus budget: keep 2/5 (40%) of all documents
KEEP_NUM = 2
KEEP_DEN = 5
#: quality key: lexical richness first, length second
RICH_SCALE = 100_000
#: temperature weight scale (floor(sqrt(c)·10⁶))
W_SCALE = 1_000_000


def q_lang_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_target, n_selected, sum_qkey_selected) per
    language, ordered by lang."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    scored = docs.select(
        "doc_id",
        "lang",
        (
            F.size(F.array_distinct(toks)).cast("long") * F.lit(RICH_SCALE)
            + F.size(toks).cast("long")
        ).alias("q_key"),
    )
    counts = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(float(W_SCALE)))
        .cast("long")
        .alias("s_int"),
    )
    norm = weights.agg(
        F.sum("s_int").alias("s_total"), F.sum("n_docs").alias("n_total")
    )
    targets = weights.join(F.broadcast(norm), how="cross").select(
        "lang",
        "n_docs",
        F.expr(
            f"CAST(((({KEEP_NUM} * n_total) DIV {KEEP_DEN})"
            f" * CAST(s_int AS DECIMAL(38,0))) DIV s_total AS BIGINT)"
        ).alias("n_target"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("q_key").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("q_rank", F.row_number().over(w))
    selected = ranked.join(F.broadcast(targets), "lang").where(
        F.col("q_rank") <= F.col("n_target")
    )
    sel_stats = selected.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("q_key").cast("long").alias("sum_qkey_selected"),
    )
    return (
        targets.join(sel_stats, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_target",
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.col("sum_qkey_selected"), F.lit(0))
            .cast("long")
            .alias("sum_qkey_selected"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "lang_quality_mix": q_lang_quality_mix,
}

ORACLES: dict[str, str] = {
    "lang_quality_mix": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_distinct(string_split(trim(text), ' ')))
                        AS BIGINT) * {RICH_SCALE}
                   + CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                       AS q_key
            FROM documents
        ),
        counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM scored GROUP BY lang
        ),
        weights AS (
            SELECT lang, n_docs,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE))
                              * CAST({W_SCALE}.0 AS DOUBLE)) AS BIGINT)
                       AS s_int
            FROM counts
        ),
        norm AS (
            SELECT CAST(SUM(s_int) AS BIGINT) AS s_total,
                   CAST(SUM(n_docs) AS BIGINT) AS n_total
            FROM weights
        ),
        targets AS (
            SELECT w.lang, w.n_docs,
                   CAST(((({KEEP_NUM} * n.n_total) // {KEEP_DEN})
                         * CAST(w.s_int AS HUGEINT)) // n.s_total
                        AS BIGINT) AS n_target
            FROM weights w CROSS JOIN norm n
        ),
        ranked AS (
            SELECT lang, doc_id, q_key,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY q_key DESC, doc_id ASC)
                       AS q_rank
            FROM scored
        ),
        sel AS (
            SELECT r.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_selected,
                   CAST(SUM(r.q_key) AS BIGINT) AS sum_qkey_selected
            FROM ranked r JOIN targets t ON r.lang = t.lang
            WHERE r.q_rank <= t.n_target
            GROUP BY r.lang
        )
        SELECT t.lang, t.n_docs, t.n_target,
               CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
               CAST(COALESCE(s.sum_qkey_selected, 0) AS BIGINT)
                   AS sum_qkey_selected
        FROM targets t LEFT JOIN sel s ON t.lang = s.lang
        ORDER BY t.lang
    """,
}
