"""Exact phrase search over the positional index.

``phrase_search``: every document containing the exact adjacent token
sequence PHRASE ("value table" — ~38 matching docs at sf0.01, some
with repeats, most of the corpus with none), ranked by hit count.
Positional-index semantics: distinct start positions count as
distinct hits. The ≥3-term join chain and overlapping-repeat
semantics are pinned on a hand-built corpus in
the phrase tests under tests/ (the synthetic vocabulary makes longer
phrases vanishingly rare, which would leave the driver row too thin).

Exactness: token positions are integers on both engines (posexplode ↔
UNNEST over an integer range), the intersection is equality joins,
counts are counts; ranking ties break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.phrase import phrase_match_counts
from ..sources import load_table

PHRASE = ["value", "table"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hits, rank) for every matching doc, best first."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = phrase_match_counts(docs, PHRASE)
    w = Window.orderBy(F.desc("n_hits"), F.col("doc_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy("rank")
    )


QUERIES = {
    "phrase_search": q_phrase_search,
}

_P0, _P1 = PHRASE

ORACLES: dict[str, str] = {
    "phrase_search": rf"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents
        ),
        idx AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                   w[CAST(u.i + 1 AS INT)] AS tok
            FROM t, UNNEST(range(0, len(w))) AS u(i)
        ),
        hits AS (
            SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM idx a
            JOIN idx b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                      AND b.tok = '{_P1}'
            WHERE a.tok = '{_P0}'
            GROUP BY a.doc_id
        )
        SELECT doc_id, n_hits,
               CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id)
                    AS INT) AS rank
        FROM hits
        ORDER BY rank
    """,
}
