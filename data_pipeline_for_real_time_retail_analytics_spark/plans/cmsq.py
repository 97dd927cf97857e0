"""Count-min sketch frequency queries (operators/cms.py).

``cms_heavy_tokens``: the classic "sample for candidates, sketch for
counts" heavy-hitter pattern — candidate tokens come from a
deterministic 1/16 hash-sample of documents (heavy tokens are in any
sample essentially surely), their frequencies from a depth-3 × width-512
CMS built over the FULL token stream, ranked by estimate. The exact
count rides in the same row, so the sketch's one-sided error
(``overcount = est − exact ≥ 0``, the CMS guarantee) is visible in the
output instead of assumed — the same make-the-error-visible discipline
as ``kmv_distinct_tokens``.

``cms_merged_heavy_tokens``: the same estimates produced the way a
100 TB deployment would — PER-SOURCE sketches (one bounded cell frame
per ingest source) merged by cell-wise integer addition, never
re-touching the token stream. CMS is linear, so merged == direct
EXACTLY (integer cells), and the oracle deliberately computes the
direct global sketch: the driver's hash equality is the mergeability
pin through the value gate.

Scale: the cell build is one partial-aggregated shuffle bounded by
depth·width rows per group; estimates broadcast the (tiny) cell frame;
candidates are sample-bounded. Nothing anywhere holds per-token state
beyond the vocabulary-bounded count frame that also feeds the exact
comparison column (a production run that trusts the sketch drops that
frame and with it the only vocabulary-sized shuffle).

The GLOBAL per-token count frame is referenced twice in
``cms_heavy_tokens`` (cells + exact column) → localCheckpoint, the
shared-frames rule (NOTES r7). The per-SOURCE count grain in the
merged query is deliberately never materialized — vocab × sources
rows grow with the corpus (see the function docstring for the measured
90× pathology).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cms import DEPTH, WIDTH, cms_cells, cms_estimate, merge_cms_cells
from ..operators.sampling import hash_bucket
from ..operators.textstats import ws_tokens
from .corpusbase import _docs
from .llm_oracles import TOKS

#: 1-in-SAMPLE_MOD documents contribute candidate tokens
SAMPLE_MOD = 16
TOP_N = 20
TOP_N_MERGED = 10

_COL_HASH_SQL = (
    "CAST(concat('0x', substr(md5(t || ':' || CAST(r AS VARCHAR)), 1, 8)) "
    f"AS BIGINT) % {WIDTH}"
)
_DOC_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    f"AS BIGINT) % {SAMPLE_MOD}"
)
_ROWS_SQL = ", ".join(str(r) for r in range(DEPTH))


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(ws_tokens(F.col("text"))).alias("t")
    )


def _candidates(toks: DataFrame) -> DataFrame:
    return (
        toks.where(hash_bucket(F.col("doc_id"), SAMPLE_MOD) == 0)
        .select("t")
        .distinct()
    )


def _ranked(est: DataFrame, exact: DataFrame, top_n: int) -> DataFrame:
    return (
        est.join(exact, "t")
        .select(
            F.col("t").alias("token"),
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(top_n)
    )


def q_cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 sample candidates by CMS estimate, exact count alongside."""
    toks = _toks(spark, sf_dir)
    counts = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    cells = cms_cells(counts, "t", "c")
    est = cms_estimate(cells, _candidates(toks), "t")
    exact = counts.select("t", F.col("c").alias("exact_count"))
    return _ranked(est, exact, TOP_N)


def q_cms_merged_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 candidates estimated from MERGED per-source sketches —
    value-identical to the direct global sketch (linearity), which is
    what the oracle computes.

    Deliberately NO materialization of the (source, token) count grain:
    that frame is vocab × sources and the scale harness's 90× corpus
    (whose vocabulary grows with the data — per-copy token tagging)
    measured 92 s with it localCheckpointed vs ~2× the single-sketch
    query without (NOTES r9 second session). The per-source counts
    exist only as the partial-aggregate feeding the cell build (bounded
    depth·width·sources out), and the exact comparison column comes
    from its own global pass — two token-stream aggregations, zero
    vocabulary-sized materializations."""
    toks = _toks(spark, sf_dir)
    counts_src = toks.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    merged = merge_cms_cells(
        cms_cells(counts_src, "t", "c", ["source"]), ["source"]
    )
    est = cms_estimate(merged, _candidates(toks), "t")
    exact = toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return _ranked(est, exact, TOP_N_MERGED)


QUERIES = {
    "cms_heavy_tokens": q_cms_heavy_tokens,
    "cms_merged_heavy_tokens": q_cms_merged_heavy_tokens,
}

_CMS_CTES = rf"""
        toks AS (
            SELECT doc_id, unnest({TOKS}) AS t FROM documents
        ),
        cnt AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY t
        ),
        rs AS (SELECT unnest([{_ROWS_SQL}]) AS r),
        cells AS (
            SELECT r, {_COL_HASH_SQL} AS col, CAST(SUM(c) AS BIGINT) AS cell
            FROM cnt CROSS JOIN rs GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT t FROM toks WHERE {_DOC_BUCKET_SQL} = 0
        ),
        fan AS (
            SELECT t, r, {_COL_HASH_SQL} AS col FROM cand CROSS JOIN rs
        ),
        est AS (
            SELECT f.t, CAST(MIN(COALESCE(cells.cell, 0)) AS BIGINT)
                       AS est_count
            FROM fan f LEFT JOIN cells USING (r, col) GROUP BY f.t
        )
"""

_CMS_SELECT = """
        SELECT e.t AS token, e.est_count, c.c AS exact_count,
               e.est_count - c.c AS overcount
        FROM est e JOIN cnt c USING (t)
        ORDER BY est_count DESC, token LIMIT {top_n}
"""

ORACLES: dict[str, str] = {
    # the merged query's oracle is the DIRECT global sketch on purpose:
    # hash equality through the driver gate IS the linearity pin
    "cms_heavy_tokens": (
        f"WITH {_CMS_CTES} {_CMS_SELECT.format(top_n=TOP_N)}"
    ),
    "cms_merged_heavy_tokens": (
        f"WITH {_CMS_CTES} {_CMS_SELECT.format(top_n=TOP_N_MERGED)}"
    ),
}
