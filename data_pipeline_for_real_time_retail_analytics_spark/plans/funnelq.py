"""End-to-end curation funnel.

``curation_funnel``: the one-table summary a production curation run
prints — document and token counts after each pipeline stage, on a
corpus planted with BOTH duplicate classes the stages exist to remove:

* stage 0 ``raw``        — originals ∪ exact copies (every 25th doc at
                           +10M, the plans/llm.py convention) ∪ quote
                           docs (every 50th doc's first 64 tokens at
                           +20M, the plans/chunkdedupq.py convention);
* stage 1 ``exact_dedup``— one survivor per content hash, lowest id
                           (operators/dedup.py exact tier): drops every
                           exact copy, keeps the quotes (strict
                           prefixes have distinct text);
* stage 2 ``quality``    — the C4/Gopher composite gate
                           (operators/textstats.py corpus_filter) over
                           the survivors;
* stage 3 ``span_clean`` — survivors whose every aligned 32-token
                           chunk is a corpus-wide first occurrence
                           (operators/chunkdedup.py): the quote docs —
                           exact-unique AND quality-passing — fall
                           exactly here, the asymmetry that motivates
                           the chunk tier.

Each stage count is computed from data, not asserted; the known drops
(copies at stage 1, quotes at stage 3) are pinned in tests.

Plan shape: ONE scoring pass (corpus_filter) over the planted corpus
produces the narrow (doc_id, n_tokens, keep) frame every stage
aggregate reuses (localCheckpointed — at 100 TB these narrow stage
manifests are exactly the tables a pipeline writes between stages);
text is touched again only by the two hash tiers that need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunkdedup import chunk_dedup, plant_quote_docs
from ..operators.dedup import exact_dedup
from ..operators.textstats import corpus_filter
from ..sources import load_table

EXACT_EVERY = 25
EXACT_OFFSET = 10_000_000
QUOTE_EVERY = 50
QUOTE_TOKENS = 64
QUOTE_OFFSET = 20_000_000
CHUNK_TOKENS = 32

STAGES = ["raw", "exact_dedup", "quality", "span_clean"]


def _planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % EXACT_EVERY == 0).withColumn(
        "doc_id", F.col("doc_id") + EXACT_OFFSET
    )
    quotes = plant_quote_docs(
        docs, every=QUOTE_EVERY, id_offset=QUOTE_OFFSET,
        quote_tokens=QUOTE_TOKENS,
    ).where(F.col("doc_id") >= QUOTE_OFFSET)
    return docs.unionByName(copies).unionByName(quotes)


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_id, stage, n_docs, n_tokens) — one row per stage."""
    raw = _planted(spark, sf_dir)
    # one scoring pass; narrow stage-manifest frames from here on
    stats = (
        corpus_filter(raw)
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                "keep")
        .localCheckpoint()
    )
    s1_ids = exact_dedup(raw, ["text"]).select("doc_id").localCheckpoint()
    s1 = stats.join(s1_ids, "doc_id")
    s2 = s1.where(F.col("keep")).localCheckpoint()
    s2_docs = raw.join(s2.select("doc_id"), "doc_id", "left_semi")
    clean_ids = (
        chunk_dedup(s2_docs, chunk_tokens=CHUNK_TOKENS)
        .where(F.col("n_kept") == F.col("n_chunks"))
        .select("doc_id")
    )
    s3 = s2.join(clean_ids, "doc_id")

    def _row(stage_id: int, stage: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(stage_id).cast("int").alias("stage_id"),
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )

    return (
        _row(0, "raw", stats)
        .unionByName(_row(1, "exact_dedup", s1))
        .unionByName(_row(2, "quality", s2))
        .unionByName(_row(3, "span_clean", s3))
        .orderBy("stage_id")
    )


QUERIES = {
    "curation_funnel": q_curation_funnel,
}

ORACLES: dict[str, str] = {
    "curation_funnel": rf"""
        WITH originals AS (SELECT doc_id, text FROM documents),
        raw AS (
            SELECT doc_id, text FROM originals
            UNION ALL
            SELECT doc_id + {EXACT_OFFSET}, text FROM originals
            WHERE doc_id % {EXACT_EVERY} = 0
            UNION ALL
            SELECT doc_id + {QUOTE_OFFSET},
                   array_to_string((regexp_split_to_array(trim(text),
                       '\s+'))[1:{QUOTE_TOKENS}], ' ')
            FROM originals
            WHERE doc_id % {QUOTE_EVERY} = 0
              AND len(regexp_split_to_array(trim(text), '\s+'))
                  >= {QUOTE_TOKENS}
        ),
        t AS (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM raw
        ),
        feat AS (
            SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
                   list_aggregate(list_transform(toks, x -> length(x)),
                                  'sum') / len(toks) AS mean_tok,
                   len(list_filter(toks,
                       x -> regexp_matches(x, '[A-Za-z]')))
                       / len(toks) AS alpha_frac,
                   list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                       AS tri
            FROM t
        ),
        stats AS (
            SELECT doc_id, text, n_tokens,
                   COALESCE(n_tokens BETWEEN 10 AND 100000
                            AND mean_tok >= 2.0 AND mean_tok <= 12.0
                            AND alpha_frac >= 0.6
                            AND (CASE WHEN len(tri) > 0
                                 THEN 1.0 - len(list_distinct(tri))
                                      / len(tri)
                                 ELSE 0.0 END) <= 0.3,
                            FALSE) AS keep
            FROM feat
        ),
        s1 AS (
            SELECT doc_id, n_tokens, keep, text FROM (
                SELECT doc_id, n_tokens, keep, text,
                       MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                FROM stats
            ) WHERE doc_id = keep_id
        ),
        s2 AS (SELECT doc_id, n_tokens, text FROM s1 WHERE keep),
        ctoks AS (
            SELECT doc_id, n_tokens,
                   regexp_split_to_array(trim(text), '\s+') AS w,
                   (GREATEST(len(regexp_split_to_array(trim(text), '\s+'))
                             - {CHUNK_TOKENS}, 0)
                    + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} + 1 AS n_chunks
            FROM s2
        ),
        ch AS (
            SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
                   md5(array_to_string(
                       w[u.i * {CHUNK_TOKENS} + 1
                         : (u.i + 1) * {CHUNK_TOKENS}], ' ')) AS h
            FROM ctoks, UNNEST(range(0, n_chunks)) AS u(i)
        ),
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY h
                                      ORDER BY doc_id, chunk_id) AS rn
            FROM ch
        ),
        s3_ids AS (
            SELECT doc_id FROM ranked
            GROUP BY doc_id HAVING MIN(rn) = 1 AND MAX(rn) = 1
        ),
        s3 AS (SELECT s2.doc_id, s2.n_tokens FROM s2
               JOIN s3_ids USING (doc_id))
        SELECT * FROM (
            SELECT CAST(0 AS INT) AS stage_id, 'raw' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens
            FROM stats
            UNION ALL
            SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
                   CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s1
            UNION ALL
            SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT),
                   CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s2
            UNION ALL
            SELECT 3, 'span_clean', CAST(COUNT(*) AS BIGINT),
                   CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s3
        ) ORDER BY stage_id
    """,
}
