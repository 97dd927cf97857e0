"""Chunk-grain exact dedup query (operators/chunkdedup.py).

``chunk_dedup_docs``: plant boundary-aligned quote documents (every
50th doc contributes a copy of its first 64 tokens under a new id),
then remove every 32-token chunk that already occurred earlier in the
corpus and reassemble. Planted quotes come out empty (both their
chunks duplicate the source's first two), sources keep their text —
the asymmetric repeated-span class the document-grain tiers cannot
express. Exact oracle: both engines chunk with the same integer
boundary arithmetic and pick first occurrences by the same
(doc_id, chunk_id) lexicographic order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunkdedup import chunk_dedup, plant_quote_docs
from ..sources import load_table

CHUNK_TOKENS = 32
QUOTE_TOKENS = 64
PLANT_EVERY = 50
QUOTE_ID_OFFSET = 20_000_000


def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_kept, dedup_text) over the quote-planted
    corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = plant_quote_docs(
        docs, every=PLANT_EVERY, id_offset=QUOTE_ID_OFFSET,
        quote_tokens=QUOTE_TOKENS,
    )
    return chunk_dedup(planted, chunk_tokens=CHUNK_TOKENS).orderBy("doc_id")


QUERIES = {
    "chunk_dedup_docs": q_chunk_dedup_docs,
}

ORACLES: dict[str, str] = {
    "chunk_dedup_docs": f"""
        WITH base AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {QUOTE_ID_OFFSET} AS doc_id,
                   array_to_string(
                       (string_split(text, ' '))[1:{QUOTE_TOKENS}], ' ') AS text
            FROM documents
            WHERE doc_id % {PLANT_EVERY} = 0
              AND len(string_split(text, ' ')) >= {QUOTE_TOKENS}
        ),
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   (GREATEST(len(string_split(text, ' ')) - {CHUNK_TOKENS}, 0)
                    + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} + 1 AS n_chunks
            FROM base
        ),
        ch AS (
            SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
                   array_to_string(
                       t[u.i * {CHUNK_TOKENS} + 1 : (u.i + 1) * {CHUNK_TOKENS}],
                       ' ') AS chunk_text
            FROM toks, UNNEST(range(0, n_chunks)) AS u(i)
        ),
        ranked AS (
            SELECT doc_id, chunk_id, chunk_text,
                   row_number() OVER (PARTITION BY md5(chunk_text)
                                      ORDER BY doc_id, chunk_id) AS rn
            FROM ch
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                                   ORDER BY chunk_id), '') AS dedup_text
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
}
