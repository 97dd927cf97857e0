"""Boilerplate-span REMOVAL — the cleaning step downstream of the
``dedup.boilerplate_ngrams`` detector: excise every token position
covered by a cross-document repeated n-gram and reassemble the text.

Gopher / RefinedWeb pipelines pair span *detection* with span
*removal*; the detector has carried a driver row since round 5, this
operator closes the loop. Semantics are position-set, not
scan-order: a token survives iff NO flagged n-gram occurrence covers
its position — order-independent, so the plan is pure joins and the
DuckDB oracle can mirror it without simulating a greedy scan.

Scale shapes (100 TB):

* gram flagging is the detector's pass-1 — per-doc DISTINCT grams,
  partial-aggregated count on the gram key; a universal gram never
  concentrates raw rows on one reducer;
* the flagged set is JOINED on the gram key, never broadcast/collected
  — it is corpus-sized in the worst case;
* covered positions explode each match into n (doc, position) rows —
  bounded by n × matches, deduped doc-locally;
* survivors come from one left-anti join on (doc, position) and
  reassemble with a doc-keyed sort INSIDE the aggregate (array_sort of
  collected (pos, token) structs), not a global window.

Reference parity: the reference has no text-curation surface (its
transformation layer is dbt-declared scaffolding,
config/pipelines/sample_pipeline.yaml:55-99); this extends the mandated
LLM-corpus cleaning suite alongside textclean.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import word_ngrams, ws_tokens

__all__ = ["positional_ngrams", "flagged_grams", "remove_boilerplate_spans"]


def positional_ngrams(tokd: DataFrame, n: int) -> DataFrame:
    """(doc_id, p, gram): every word n-gram occurrence with its 1-based
    start position. ``tokd`` must expose (doc_id, w) with w the token
    array; docs shorter than n contribute no rows."""
    return (
        tokd.where(F.size("w") >= n)
        .select(
            "doc_id", F.posexplode(word_ngrams(F.col("w"), n)).alias("p0", "gram")
        )
        .select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    )


def flagged_grams(pos_grams: DataFrame, min_docs: int) -> DataFrame:
    """Grams appearing in ≥ ``min_docs`` distinct documents — the
    detector's pass-1 criterion (dedup.boilerplate_ngrams), computed
    from occurrence rows: per-doc-distinct then a partial-aggregated
    count on the gram key."""
    return (
        pos_grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gram")
    )


def remove_boilerplate_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_removed, clean_text): the corpus with every
    token position covered by a flagged n-gram occurrence removed and
    the survivors re-joined with single spaces. A fully-boilerplate
    document yields ``clean_text = ''`` (kept, not dropped — dropping
    is a one-filter decision the caller owns)."""
    tokd = df.select(
        F.col(id_col).alias("doc_id"), ws_tokens(F.col(text_col)).alias("w")
    )
    pg = positional_ngrams(tokd, n)
    # Both sides of the flag join and the anti-join derive from the same
    # exploded-corpus subtree: pin them to sort-merge so AQE's broadcast
    # choice cannot recompute that subtree through the driver (the
    # measured MinHash band-join pathology, operators/dedup.py) — and so
    # neither build side is capped by driver memory at corpus scale.
    matched = (
        pg.join(flagged_grams(pg, min_docs).hint("merge"), "gram")
        .select("doc_id", "p")
        .distinct()
    )
    # Covered positions roll up to DOC grain (collect_set dedupes the
    # overlapping spans), and survivors come from an ARRAY filter on
    # the token array itself — positions not in the covered set, in
    # native order (r13, guide §2.4). The pre-r13 shape exploded every
    # corpus token to (doc, position) rows, anti-joined at token grain,
    # then re-shuffled every surviving token through a collect_list +
    # array_sort rebuild — two corpus-token-sized exchanges and their
    # sorts, all to recover an order the token array already had. The
    # covered-set rows are bounded by documents WITH flagged spans, so
    # the only remaining token-grain work is the one map-side filter.
    # Values are identical: same covered-position set, same survivor
    # positions, same single-space reassembly; a fully-covered doc
    # still yields clean_text = ''.
    cov = (
        matched.select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias(
                "q"
            ),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("q").alias("__cov"))
    )
    return (
        tokd.join(cov.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.coalesce(F.size("__cov"), F.lit(0)).cast("long").alias(
                "n_removed"
            ),
            F.array_join(
                F.filter(
                    "w",
                    lambda tok, i: ~F.array_contains(
                        F.coalesce(
                            F.col("__cov"),
                            F.array().cast("array<int>"),
                        ),
                        i + 1,
                    ),
                ),
                " ",
            ).alias("clean_text"),
        )
    )
