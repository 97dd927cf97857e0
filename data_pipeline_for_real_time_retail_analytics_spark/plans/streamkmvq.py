"""STREAMING KMV cardinality maintenance.

``stream_kmv_distinct_bigrams``: per-source distinct TOKEN-BIGRAM
cardinality with the bottom-256 sketch maintained by an ACTUAL
Structured Streaming execution — the corpus arrives as a multi-batch
file stream (``maxFilesPerTrigger=1``, so the merge law is genuinely
exercised across micro-batches), and per-source state is the sorted
bottom-k distinct hash array (≤ 256 BIGINTs) held by
``applyInPandasWithState`` (streaming/kmvstate.py). This closes the
sketch-tier streaming triangle: CMS (streamcmsq — additive cells),
PSI drift (streamdriftq — bounded count matrix), and now KMV
(mergeable order statistics through CUSTOM state, which built-in
streaming aggregation cannot express short of holding the whole
distinct set).

Why bigrams and not tokens: the synthetic corpus shares one small
token vocabulary (~31 distinct per source — the same property that
killed the tokenizer-fertility candidate last session), so a k = 256
token sketch never truncates and the estimator reduces to the exact
n < k branch. Per-source distinct bigrams run 634-740 at sf0.01 —
comfortably past k — so BOTH interesting regimes fire: the bottom-k
truncation across micro-batches AND the (k-1)·2^60/h_(k) estimate,
whose per-source error against the exact column is visible in the
output (KMV σ ≈ 1/√(k-1) ≈ 6.3%).

The oracle is the kmvq CTE structure instantiated for bigrams (the
single-phase global bottom-k) — an exact mirror; stream ≡ batch is
ADDITIONALLY pinned engine-side in tests by rebuilding the sketch from
the same operators in batch and asserting row equality (the
streamdriftq discipline). The exact-distinct comparison column comes
from the batch path (it exists to expose the sketch's error; a pure
deployment would not compute it), so the streaming part of the cell is
exactly the sketch build the 100 TB monitor would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import word_shingles
from ..operators.kmv import HASH_BITS, kmv_estimate, kmv_hash
from ..streaming.ingest import file_stream
from ..streaming.kmvstate import kmv_sketch_stream
from .corpusbase import _docs
from .kmvq import K
from .llm_oracles import TOKS
from .streamcmsq import DOCS_SCHEMA
from .streamq import _drain_overlapped, stage_table

#: staged file count: the AvailableNow drive at maxFilesPerTrigger=1
#: runs one micro-batch per file, so 3 files = 3 state updates per
#: source (1 init + 2 genuine cross-batch merges) — the minimum that
#: exercises the merge law more than once (pinned in tests via the
#: emitted monotone update counter). Bottom-k is order-insensitive, so
#: the staging repartition cannot affect values. Measured at sf0.1,
#: each micro-batch costs ~2.4 s of FIXED drive overhead (planning + 8
#: state-store commits + Python worker round-trip), so 6 files doubled
#: the cell wall for no additional semantic coverage (steady-state
#: drive 14.5 → 7.3 s).
_N_STAGE_FILES = 3


def _bigram_hashes(docs: DataFrame) -> DataFrame:
    """(source, h) over each doc's distinct word bigrams — shared by
    the stream (per micro-batch) and the batch exact/pin paths."""
    return docs.select(
        "source", F.explode(word_shingles(F.col("text"), 2)).alias("t")
    ).select("source", kmv_hash(F.col("t")).alias("h"))


def q_stream_kmv_distinct_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV bigram-vocabulary estimate from the STREAM-
    maintained sketch, next to the exact distinct."""
    stream = file_stream(
        spark,
        stage_table(spark, sf_dir, "documents", _N_STAGE_FILES),
        schema=DOCS_SCHEMA,
        max_files_per_trigger=1,
    )
    # At maxFilesPerTrigger=1 each micro-batch is ONE parquet file =
    # ONE input partition, so the md5-heavy shingle explode ran on a
    # single core per batch (the plans/llm.py _docs 1-2-split lesson,
    # streaming edition: the drain was ~9 s of serialized HOF+md5 where
    # the same work fans out in the batch paths). Repartitioning the
    # doc rows BEFORE the explode costs one shuffle of raw doc text and
    # parallelizes the expensive projection; bottom-k is placement- and
    # order-insensitive, so values are untouched (stream ≡ batch pins
    # and the shared oracle prove it). Measured: sf0.1 drain 7.4 → 3.9 s
    # (interleaved A/B); 90× corpus drive 493.7 → 168.2 s (2.9×,
    # sketches bit-identical across all 20 sources) — the lever GROWS
    # with scale because staged files grow while still mapping to one
    # input partition each.
    fanout = stream.repartition(
        spark.sparkContext.defaultParallelism
    )
    # Overlapped drive (r14, guide §2.6): the exact-distinct comparison
    # column is a BATCH computation fully independent of the streaming
    # sketch, yet it ran only after the drain returned — serial driver
    # calls, idle executors during the drive's fixed per-batch overhead
    # (planning + 8 state-store commits + Python state round-trip).
    # _drain_overlapped starts the stream, eagerly materializes the
    # exact frame while micro-batches run, then awaits termination —
    # both jobs share the scheduler (FIFO back-fill). The exact frame's
    # action runs under the stream's 8 shuffle partitions; aggregation
    # values are partition-count-independent, so rows are unchanged.
    exact_plan = (
        _bigram_hashes(_docs(spark, sf_dir))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    emissions, exact = _drain_overlapped(
        spark,
        kmv_sketch_stream(_bigram_hashes(fanout), key_col="source",
                          hash_col="h", k=K),
        "stream_kmv_sketch",
        exact_plan,
        output_mode="update",
    )
    # the memory sink appends every update — keep each source's LAST
    # emission (max monotone counter), which reflects all its batches;
    # a window-max (not a sink self-join: conflicting-reference trap)
    sketch = (
        emissions.withColumn(
            "__last", F.max("upd").over(Window.partitionBy("source"))
        )
        .where(F.col("upd") == F.col("__last"))
        .select("source", "rank", "h")
    )
    est = kmv_estimate(sketch, ["source"], K)
    return est.join(exact, "source").orderBy("source")


QUERIES = {
    "stream_kmv_distinct_bigrams": q_stream_kmv_distinct_bigrams,
}

_DOMAIN_LIT = f"CAST({1 << HASH_BITS} AS DOUBLE)"

ORACLES: dict[str, str] = {
    "stream_kmv_distinct_bigrams": rf"""
        WITH tokd AS (
            SELECT source, {TOKS} AS w FROM documents
        ),
        toks AS (
            SELECT source,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(w) - 1, 0) + 1),
                       i -> w[i] || ' ' || w[i+1]))) AS t
            FROM tokd WHERE len(w) >= 2
        ),
        hashed AS (
            SELECT DISTINCT source,
                   CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
            FROM toks
        ),
        ranked AS (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM hashed
        ),
        sk AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   MAX(h) AS kth_hash
            FROM ranked WHERE rk <= {K} GROUP BY source
        ),
        ex AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
            FROM hashed GROUP BY source
        )
        SELECT s.source, s.n_kept, s.kth_hash,
               CASE WHEN s.n_kept < {K} THEN s.n_kept
                    ELSE CAST(floor(
                        CAST({K - 1} AS DOUBLE) * {_DOMAIN_LIT}
                        / CAST(s.kth_hash AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        AS BIGINT) END AS est_distinct,
               ex.exact_distinct
        FROM sk s JOIN ex USING (source)
        ORDER BY source
    """,
}
