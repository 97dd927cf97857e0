"""Shared corpus-pipeline builders for the LLM-curation plan family.

Twenty plan modules consume the planted-corpus conventions
(``_docs``/``_embs`` loaders, plant parameters, the shared MinHash pair
materialization). ``plans/llm.py`` also hosts the ANN showcase queries
and imports ``operators/similarity.py``; keeping the shared builders
here lets those modules load without it.

This module is a LEAF: its only package imports are
``operators/dedup.py`` (planting + MinHash pairs), ``sources``
(load_table) and the ``plans/shared.py`` memo. Consumers of the
shared builders import from HERE; ``plans/llm.py`` re-exports them for
backward compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import minhash_lsh_pairs, plant_near_dups
from ..sources import load_table
from .shared import shared

#: planting parameters shared with the oracle SQL
PLANT_EVERY_DOCS = 25
PLANT_EVERY_VECS = 100
ID_OFFSET = 10_000_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The corpus arrives as a handful of parquet files, so Spark's
    # split-based partitioning gives only 1-2 input partitions — which
    # would serialize the expensive per-document work (shingling, per-seed
    # minhash, token votes) onto 2 cores. Repartition up front: one small
    # shuffle of raw text buys full-cluster parallelism for everything
    # downstream. (At 100 TB the input arrives in thousands of splits and
    # this becomes a no-op choice; the guard keeps it from *reducing*
    # parallelism there.)
    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism * 2
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id")
    return docs


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    target = spark.sparkContext.defaultParallelism * 2
    if embs.rdd.getNumPartitions() < target:
        embs = embs.repartition(target, "vec_id")
    return embs


def planted_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the planted corpus (num_perm=12,
    bands=3, threshold=0.5), computed once per (application, sf_dir).

    The pairs feed both q_minhash_lsh_dupes (they are its answer) and
    q_dedup_clusters (they are its edge input); recomputing them was
    ~85% of dedup_clusters' cost at sf0.1 (NOTES round 4).
    localCheckpoint materializes the few-hundred-row pair set once and
    truncates its lineage, so every later consumer pays ~zero."""

    def build() -> DataFrame:
        planted = plant_near_dups(
            _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
        )
        return minhash_lsh_pairs(
            planted, num_perm=12, bands=3, threshold=0.5
        ).localCheckpoint()

    return shared(spark, sf_dir, "planted_minhash_pairs", build)
