#!/usr/bin/env python
"""Streaming corpus ingest with per-batch dedup against the standing
corpus — the continuous form of the daily-ingest shape.

Ties two arcs together: Structured Streaming file arrival (documents
land as files; ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``
drains them one micro-batch per file) and incremental near-dup
detection (``minhash_lsh_pairs_between``: the arriving batch meets
ONLY its band collisions against the corpus — never a corpus×batch
comparison, and at production scale the corpus band signatures persist
as an index, measured in NOTES.md). Each micro-batch:

1. flag arrivals whose shingle Jaccard against the standing corpus
   clears the threshold;
2. drop them, append the survivors to the corpus — IDEMPOTENTLY: each
   epoch overwrites its OWN subdirectory (``epoch_<id>/``), so a crash
   after the write but before the checkpoint commit replays the epoch
   into the same subdir instead of double-appending (the same
   epoch-keyed discipline as streaming/upsert.py's merge sink);
3. log (arrived, dropped, appended).

The arrival slices carry planted exact copies of corpus documents, so
the expected outcome is checkable: every planted copy must be dropped,
and the final corpus must equal seed + per-batch survivors exactly.

Run:  python examples/streaming_corpus_ingest_example.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
    minhash_lsh_pairs_between,
)
from data_pipeline_for_real_time_retail_analytics_spark.session import get_spark
from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

#: arriving docs with ids >= this are planted copies of corpus docs
COPY_OFFSET = 50_000_000


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming-corpus-ingest-example")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    work = tempfile.mkdtemp(prefix="corpus_ingest_")
    corpus_dir, arrivals_dir, ckpt = (
        f"{work}/corpus", f"{work}/arrivals", f"{work}/ckpt"
    )
    os.makedirs(arrivals_dir)

    # standing corpus = first 60% of docs (seed/ subdir); two arrival
    # slices carry the rest plus planted exact copies of corpus docs
    # (those must be dropped). Each slice lands as one file — the repo's
    # standard one-file-per-arrival staging (tests/test_streaming.py).
    n = docs.count()
    cut = int(n * 0.6)
    corpus0 = docs.where(F.col("doc_id") < cut)
    corpus0.write.parquet(f"{corpus_dir}/seed")
    n_seed = corpus0.count()
    fresh = docs.where(F.col("doc_id") >= cut)
    half = (cut + n) // 2
    planted = corpus0.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + COPY_OFFSET
    )
    for slice_df in (
        fresh.where(F.col("doc_id") < half).unionByName(
            planted.where(F.col("doc_id") % 20 == COPY_OFFSET % 20)
        ),
        fresh.where(F.col("doc_id") >= half).unionByName(
            planted.where(F.col("doc_id") % 20 != COPY_OFFSET % 20)
        ),
    ):
        slice_df.coalesce(1).write.mode("append").parquet(arrivals_dir)

    log: list[tuple[int, int, int, int]] = []

    def ingest_batch(batch_df, epoch_id: int) -> None:
        corpus = spark.read.parquet(f"{corpus_dir}/*")
        dupes = (
            minhash_lsh_pairs_between(batch_df, corpus)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        # one evaluation of the LSH anti-join: materialize survivors,
        # count from the checkpoint, THEN write — counting after the
        # append would re-run the join against a corpus listing that
        # now contains the survivors themselves
        survivors = batch_df.join(dupes, "doc_id", "left_anti").localCheckpoint()
        arrived = batch_df.count()
        kept = survivors.count()
        survivors.write.mode("overwrite").parquet(
            f"{corpus_dir}/epoch_{epoch_id}"
        )
        log.append((epoch_id, arrived, arrived - kept, kept))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    for epoch, arrived, dropped, kept in log:
        print(
            f"batch {epoch}: arrived={arrived} "
            f"near-dups dropped={dropped} appended={kept}"
        )

    final = spark.read.parquet(f"{corpus_dir}/*")
    survived_copies = final.where(F.col("doc_id") >= COPY_OFFSET).count()
    total = final.count()
    print(f"final corpus: {total} docs")
    # every planted exact copy must be dropped; fresh docs may ALSO be
    # dropped when they are organic near-dups of corpus boilerplate —
    # that's the operator working, so the accounting check is that the
    # final corpus equals seed + per-batch survivors exactly
    expected = n_seed + sum(kept for _e, _a, _d, kept in log)
    print(f"planted copies dropped: {survived_copies == 0}")
    print(f"corpus accounting exact: {total == expected}")

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
