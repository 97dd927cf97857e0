"""STREAMING count-min sketch maintenance.

``stream_cms_heavy_tokens``: the plans/cmsq.py heavy-hitter answer with
the sketch maintained by an ACTUAL Structured Streaming execution: the
corpus arrives as a file stream, every token occurrence fans out
map-side to its depth (row, col) cell targets, and ONE streaming
aggregation holds the cell matrix — **the entire streaming state is
the depth × width = 1536 integer cells**, no watermark needed because
the key domain is bounded by construction. This is the textbook
bounded-state streaming sketch, and it is structurally SMALLER state
than the batch build (which pre-aggregates a vocabulary-bounded count
frame): the stream never holds a per-token row anywhere.

CMS linearity is what makes the incremental maintenance exact: each
micro-batch adds its occurrence counts into the cells, and addition is
associative — cells after the drain equal the batch build bit-for-bit
regardless of how the files were batched. Output and oracle are
IDENTICAL to ``cms_heavy_tokens``, so the driver's hash gate proves
stream ≡ batch sketch maintenance end-to-end (the
stream_session_first_touch pattern extended to the sketch tier).

The estimate/rank tail runs as a bounded batch job over the drained
1536-row sink (broadcast), with candidates and the exact comparison
column from the established batch paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cms import DEPTH, WIDTH, cms_col_hash, cms_estimate
from ..operators.sampling import hash_bucket
from ..operators.textstats import ws_tokens
from ..streaming.ingest import file_stream
from .cmsq import SAMPLE_MOD, TOP_N, _ranked, _toks
from .cmsq import ORACLES as _BATCH_ORACLES
from .streamq import _drain_overlapped, stage_table

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def q_stream_cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 sample candidates by the STREAM-maintained CMS estimate —
    batch-equal by linearity, proven by the shared oracle."""
    stream = file_stream(
        spark, stage_table(spark, sf_dir, "documents"), schema=DOCS_SCHEMA
    )
    # The staged corpus is 1-2 parquet files read in a single micro-
    # batch, and each file maps to ONE input partition at stream read —
    # so the ws_tokens explode + depth-way cell fanout ran on 1-2 cores
    # (the plans/streamkmvq.py lesson, r12). Repartitioning the doc
    # rows BEFORE the explode costs one shuffle of raw doc text and
    # parallelizes the token/cell projection; CMS cell addition is
    # linear (associative + commutative), so the drained cell matrix is
    # bit-identical regardless of row placement — the shared batch
    # oracle and the stream≡batch pin prove it.
    fanout = stream.repartition(spark.sparkContext.defaultParallelism)
    toks = fanout.select(F.explode(ws_tokens(F.col("text"))).alias("t"))
    targets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    cms_col_hash(F.col("t"), r, WIDTH).alias("col"),
                )
                for r in range(DEPTH)
            ]
        )
    ).alias("__tgt")
    cells = (
        toks.select(targets)
        .select("__tgt.r", "__tgt.col")
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )
    # Overlapped drive (r14, guide §2.6): the candidate/exact columns
    # are batch work independent of the streaming sketch — materialize
    # them WHILE the drive's fixed per-batch overhead runs, in ONE
    # token aggregation instead of the two separate subtrees
    # (_candidates + exact) the old plan evaluated from the same
    # explode. A token is a candidate iff ANY of its occurrences is in
    # a hash-sampled doc (max over the per-row sample flag) — the
    # identical set _candidates produced; exact counts are unchanged.
    batch_toks = _toks(spark, sf_dir)
    tok_stats_plan = batch_toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count"),
        F.max(
            (hash_bucket(F.col("doc_id"), SAMPLE_MOD) == 0).cast("int")
        ).alias("is_cand"),
    )
    drained, tok_stats = _drain_overlapped(
        spark, cells, "stream_cms_cells", tok_stats_plan
    )
    est = cms_estimate(
        drained, tok_stats.where(F.col("is_cand") == 1).select("t"), "t"
    )
    exact = tok_stats.select("t", "exact_count")
    return _ranked(est, exact, TOP_N)


QUERIES = {
    "stream_cms_heavy_tokens": q_stream_cms_heavy_tokens,
}

#: identical semantics to the batch twin — same oracle text, proving
#: stream/batch sketch-maintenance equivalence through the value gate
ORACLES: dict[str, str] = {
    "stream_cms_heavy_tokens": _BATCH_ORACLES["cms_heavy_tokens"],
}
