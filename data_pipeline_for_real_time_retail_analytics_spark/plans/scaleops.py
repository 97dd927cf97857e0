"""Scale-maintenance showcase queries (driver correctness gate):
runtime Bloom-filter join pruning and small-file compaction, wrapping
operators/maintenance.py. Both are 100 TB levers whose RESULTS are
layout/optimization-invariant, so each has an exact DuckDB oracle; the
plan-level effects (might_contain on the probe scan, file-count and
per-file range stats after compaction) are pinned in
tests/test_maintenance.py.

Both queries execute eagerly inside the wrapper (write → read-back),
mirroring the streamq pattern: the Bloom confs are scoped to the
materialization and restored before returning, so no conf leaks into
whatever the caller runs next; the compaction demo needs a real
small-file directory on disk to rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.maintenance import compact_parquet, runtime_bloom_filters
from ..sources import load_table
from .shared import work_dir

#: the selective fetch predicate for the Bloom demo
BLOOM_LABEL = 3
#: compaction demo: scatter width (small-file problem) → target files
SCATTER_FILES = 32
COMPACT_FILES = 4

def q_bloom_pruned_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch the document rows whose embedding carries BLOOM_LABEL —
    the selective fetch-back join (ids → big table) that at 100 TB
    runs as a shuffle join over the full corpus scan unless a runtime
    Bloom filter prunes the probe side. Materialized inside the
    runtime_bloom_filters scope so the injected ``might_contain``
    pre-filter (built from the selective embedding side) cuts the
    corpus scan to near the match volume; the result is
    optimization-invariant and DuckDB-checked."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ids = emb.where(F.col("label") == BLOOM_LABEL).select(
        F.col("vec_id").alias("doc_id")
    )
    # no pre-write orderBy: the read-back below establishes the output
    # ordering, so sorting here would only add a wasted global sort
    # (range-partition sampling + extra shuffle) to the materialization
    fetch = docs.join(ids, "doc_id").select("doc_id", "source", "lang", "n_chars")
    out = work_dir(spark, sf_dir, "bloom_fetch")
    with runtime_bloom_filters(spark):
        fetch.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("doc_id")


def q_compacted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE walk: scatter the documents table into SCATTER_FILES
    small files (the layout an incremental/streaming writer leaves
    behind), compact to COMPACT_FILES range-clustered files on
    (source, doc_id), and return the compacted relation — row content
    must be invariant under the rewrite (the DuckDB-checked contract);
    the file-count and per-file disjoint-range effects are pinned in
    tests/test_maintenance.py."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    scattered = work_dir(spark, sf_dir, "compact_src")
    compacted = work_dir(spark, sf_dir, "compact_dest")
    # hash-scatter (NOT range) — deliberately the worst layout: every
    # file holds rows from every source, nothing prunes
    docs.repartition(SCATTER_FILES, "doc_id").write.mode("overwrite").parquet(
        scattered
    )
    out = compact_parquet(
        spark,
        scattered,
        compacted,
        cluster_cols=["source", "doc_id"],
        target_files=COMPACT_FILES,
    )
    return out.orderBy("doc_id")


QUERIES = {
    "bloom_pruned_fetch": q_bloom_pruned_fetch,
    "compacted_corpus": q_compacted_corpus,
}

ORACLES: dict[str, str] = {
    "bloom_pruned_fetch": f"""
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d
        JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE e.label = {BLOOM_LABEL}
        ORDER BY d.doc_id
    """,
    "compacted_corpus": """
        SELECT doc_id, source, lang, n_chars
        FROM documents
        ORDER BY doc_id
    """,
}
