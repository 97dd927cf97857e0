"""Bloom-prefiltered incremental chunk dedup (r9 verdict surface-growth
ask #8a: "Bloom-filter dedup pre-filter composed with the chunk-grain
tier").

``bloom_chunk_prefilter``: the standing corpus's 32-token chunk hashes
build a deterministic Bloom filter (operators/bloomfilter.py, m=2^18,
k=3); an ingest batch — every 25th document re-ingested with one extra
trailing token — probes it. Every full 32-token chunk of a re-ingested
document is a TRUE duplicate (boundary-aligned prefix), its mutated
tail chunk is novel; the filter prunes novel chunks map-side and only
bloom hits reach the exact verification semi-join against the corpus
hash set. Output per new document: chunk count, bloom hits, verified
duplicates, false positives — the full pre-filter audit.

Falsifiability: n_verified is ground truth (exact join) and the
no-false-negative law of Bloom filters demands n_hit ≥ n_verified row
by row; at this sizing (load k·n/m ≈ 0.04 at sf0.01) false positives
are ~0, and the FP-accounting path itself is pinned by a unit test
with a deliberately tiny m (test_bloom_fp_accounting_under_saturation)
where FPs are forced.

Sizing at scale: m is a per-deployment constant tied to corpus epoch
size (FP ≈ (1-e^(-k·n/m))^k); production rebuilds the k·m-bounded bit
table per corpus snapshot and broadcasts it to every ingest batch —
the build is one pass over corpus hashes, the probe side never
shuffles at chunk grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloomfilter import bloom_bits, bloom_probe
from ..operators.textstats import chunk_documents
from ..sources import load_table

CHUNK_TOKENS = 32
PLANT_EVERY = 25
NEW_ID_OFFSET = 30_000_000
BLOOM_M = 262_144  # 2^18 positions per hash row
BLOOM_K = 3


def _chunk_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, h): md5 of each aligned 32-token chunk."""
    return chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, overlap=0
    ).select("doc_id", "chunk_id", F.md5("chunk_text").alias("h"))


def q_bloom_chunk_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_hit, n_verified, n_false_pos) per ingest
    document, ordered by doc_id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_batch = docs.where(F.col("doc_id") % PLANT_EVERY == 0).select(
        (F.col("doc_id") + NEW_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" xtra"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    corpus_keys = _chunk_hashes(docs).select("h").distinct()
    bits = bloom_bits(corpus_keys, "h", m=BLOOM_M, k=BLOOM_K)
    new_chunks = _chunk_hashes(new_batch)

    flags = bloom_probe(
        new_chunks, "h", bits, m=BLOOM_M, k=BLOOM_K
    )
    # composition point: ONLY bloom hits reach the exact verification
    # join — the prune is the plan shape being demonstrated
    verified = (
        flags.where(F.col("bloom_hit"))
        .join(corpus_keys, "h", "left_semi")
        .select("h", F.lit(True).alias("verified"))
    )
    audited = flags.join(verified, "h", "left").select(
        "h",
        "bloom_hit",
        F.coalesce(F.col("verified"), F.lit(False)).alias("verified"),
    )
    return (
        new_chunks.join(audited, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_hit"),
            F.sum(F.col("verified").cast("long")).alias("n_verified"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("verified")).cast("long")
            ).alias("n_false_pos"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "bloom_chunk_prefilter": q_bloom_chunk_prefilter,
}

_COL_HASH = (
    "CAST(concat('0x', substr(md5(h || ':' || CAST({r} AS VARCHAR)), 1, 8)) "
    f"AS BIGINT) % {BLOOM_M}"
)

ORACLES: dict[str, str] = {
    "bloom_chunk_prefilter": f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        newb AS (
            SELECT doc_id + {NEW_ID_OFFSET} AS doc_id,
                   text || ' xtra' || CAST(doc_id AS VARCHAR) AS text
            FROM corpus WHERE doc_id % {PLANT_EVERY} = 0
        ),
        ctoks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   (GREATEST(len(string_split(text, ' ')) - {CHUNK_TOKENS}, 0)
                    + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} + 1 AS n_chunks
            FROM corpus
        ),
        cch AS (
            SELECT DISTINCT md5(array_to_string(
                t[u.i * {CHUNK_TOKENS} + 1 : (u.i + 1) * {CHUNK_TOKENS}], ' '))
                AS h
            FROM ctoks, UNNEST(range(0, n_chunks)) AS u(i)
        ),
        bits AS (
            SELECT DISTINCT r.bit_row,
                   {_COL_HASH.format(r='r.bit_row')} AS bit_pos
            FROM cch, (SELECT UNNEST(range(0, {BLOOM_K})) AS bit_row) r
        ),
        ntoks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   (GREATEST(len(string_split(text, ' ')) - {CHUNK_TOKENS}, 0)
                    + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} + 1 AS n_chunks
            FROM newb
        ),
        nch AS (
            SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
                   md5(array_to_string(
                       t[u.i * {CHUNK_TOKENS} + 1 : (u.i + 1) * {CHUNK_TOKENS}],
                       ' ')) AS h
            FROM ntoks, UNNEST(range(0, n_chunks)) AS u(i)
        ),
        probes AS (
            SELECT DISTINCT h FROM nch
        ),
        probe_rows AS (
            SELECT p.h, r.bit_row,
                   {_COL_HASH.format(r='r.bit_row')} AS bit_pos
            FROM probes p, (SELECT UNNEST(range(0, {BLOOM_K})) AS bit_row) r
        ),
        hits AS (
            SELECT pr.h, COUNT(b.bit_row) AS n_set
            FROM probe_rows pr
            LEFT JOIN bits b
              ON pr.bit_row = b.bit_row AND pr.bit_pos = b.bit_pos
            GROUP BY pr.h
        ),
        audited AS (
            SELECT p.h,
                   (hi.n_set = {BLOOM_K}) AS bloom_hit,
                   (hi.n_set = {BLOOM_K}
                    AND EXISTS (SELECT 1 FROM cch c WHERE c.h = p.h))
                       AS verified
            FROM probes p JOIN hits hi ON p.h = hi.h
        )
        SELECT n.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN a.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hit,
               CAST(SUM(CASE WHEN a.verified THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_verified,
               CAST(SUM(CASE WHEN a.bloom_hit AND NOT a.verified
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM nch n JOIN audited a ON n.h = a.h
        GROUP BY n.doc_id
        ORDER BY n.doc_id
    """,
}
