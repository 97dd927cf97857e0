"""Boilerplate-removal query (operators/boilerplate.py).

``boilerplate_removed_docs`` runs the span-removal cleaner over the
same planted corpus the detector query (``boilerplate_ngrams``,
registered r5) probes, with the same (n=5, min_docs=2)
parameterization — so the mutant/original families that the detector
surfaces are exactly the documents this query visibly rewrites, and the
untouched majority passes through verbatim. Output cells are strings
and integers only: no float surface anywhere.

The oracle mirrors the plan step for step: positional n-grams (NOT
per-doc distinct — removal needs every occurrence), pass-1 doc-distinct
flagging, covered-position union via a range explode, anti-join
survivors, position-ordered reassembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.boilerplate import remove_boilerplate_spans
from ..operators.dedup import plant_near_dups
from .corpusbase import ID_OFFSET, PLANT_EVERY_DOCS, _docs
from .llm_oracles import PLANTED, TOKS

_N = 5
_MIN_DOCS = 2


def q_boilerplate_removed_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Planted corpus with cross-document repeated 5-gram spans excised
    (operators/boilerplate.py:remove_boilerplate_spans)."""
    planted = plant_near_dups(
        _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
    )
    return remove_boilerplate_spans(planted, n=_N, min_docs=_MIN_DOCS)


QUERIES = {
    "boilerplate_removed_docs": q_boilerplate_removed_docs,
}

ORACLES: dict[str, str] = {
    "boilerplate_removed_docs": rf"""
        WITH {PLANTED},
        tokd AS (SELECT doc_id, {TOKS} AS w FROM corpus),
        pg AS (
            SELECT doc_id,
                   unnest(range(1, len(w) - {_N} + 2)) AS p,
                   unnest(list_transform(
                       range(1, len(w) - {_N} + 2),
                       i -> array_to_string(
                           list_slice(w, i, i + {_N} - 1), ' '))) AS gram
            FROM tokd WHERE len(w) >= {_N}
        ),
        flagged AS (
            SELECT gram
            FROM (SELECT gram, COUNT(*) AS df
                  FROM (SELECT DISTINCT doc_id, gram FROM pg)
                  GROUP BY gram)
            WHERE df >= {_MIN_DOCS}
        ),
        matched AS (
            SELECT DISTINCT doc_id, p FROM pg
            WHERE gram IN (SELECT gram FROM flagged)
        ),
        covered AS (
            SELECT DISTINCT doc_id, p + u.o AS q
            FROM matched, (SELECT unnest(range(0, {_N})) AS o) u
        ),
        toks AS (
            SELECT doc_id, unnest(range(1, len(w) + 1)) AS q,
                   unnest(w) AS tok
            FROM tokd
        ),
        kept AS (
            SELECT t.doc_id, t.q, t.tok
            FROM toks t ANTI JOIN covered c
              ON t.doc_id = c.doc_id AND t.q = c.q
        ),
        reb AS (
            SELECT doc_id,
                   array_to_string(list(tok ORDER BY q), ' ') AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.w) AS BIGINT) AS n_tokens,
               CAST(len(t.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(r.clean_text, '') AS clean_text
        FROM tokd t LEFT JOIN reb r USING (doc_id)
    """,
}
