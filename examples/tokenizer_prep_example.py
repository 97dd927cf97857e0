#!/usr/bin/env python
"""Tokenizer-prep walkthrough: the corpus passes that feed a BPE
tokenizer build, end to end on the documents table.

1. word-frequency table (operators/bpe.word_frequencies) — the ONE
   corpus text pass; everything after runs over distinct words
   weighted by count (Heaps' law keeps that frame sub-linear in corpus
   size, which is why production BPE trainers never re-read the
   corpus);
2. merge-candidate mining (bpe_top_merges) — iteration 1's candidate
   table, the driver-gated pair `bpe_merge_candidates`;
3. the iterative trainer (bpe_learn) — N greedy merges, each one
   pair-count aggregate + a 1-row argmax (Sennrich et al. 2016;
   pinned reference-exact by test_bpe_learn_matches_the_sennrich_reference);
4. the audit: how the learned merges compress the corpus — weighted
   symbols per token before vs after, the number a tokenizer team
   watches while choosing vocabulary size;
5. deployment: segmenting unseen text with the PRODUCTION inference
   path (bpe_segment_vocab — the trained symbol inventory broadcast
   once per executor, greedy longest-match per token; this is the
   form that scales to 30k+ merge vocabularies, where the small-table
   expression replay would compile an absurd plan).

Run:  python examples/tokenizer_prep_example.py [sf_dir] [n_merges]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (  # noqa: E402
    bpe_learn,
    bpe_segment_vocab,
    bpe_top_merges,
    bpe_vocab,
    word_frequencies,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources import (  # noqa: E402
    load_table,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("tokenizer_prep_example")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")

    vocab = word_frequencies(docs).localCheckpoint()
    n_words, n_distinct = (
        vocab.agg(F.sum("wt"), F.count(F.lit(1))).collect()[0]
    )
    print(f"== corpus: {n_words} word occurrences, "
          f"{n_distinct} distinct words ==")

    # every stage below reuses the ONE corpus pass (the checkpointed
    # word-frequency frame) — the discipline the module docstring
    # promises
    print("\n== top merge candidates (iteration 1) ==")
    for r in bpe_top_merges(docs, 8, word_freqs=vocab).collect():
        print(f"  {r.pair!r:6s} weighted count {r.n_occurrences}")

    print(f"\n== learning {n_merges} merges ==")
    merges, final_vocab = bpe_learn(
        docs, n_merges, word_freqs=vocab, return_final_vocab=True
    )
    for i, (a, b, n) in enumerate(merges):
        print(f"  {i + 1:2d}. {a!r} + {b!r} -> {a + b!r}  (count {n})")

    # audit: weighted symbols/token before vs after the learned merges
    # — 'after' comes straight from the trainer's final symbol frame,
    # no fold replay
    before = vocab.agg(
        F.sum(F.length("tok") * F.col("wt")).cast("long")
    ).collect()[0][0]
    after = final_vocab.agg(
        F.sum(F.size("syms") * F.col("wt")).cast("long")
    ).collect()[0][0]
    saved_pct = 100.0 * (before - after) / before if before else 0.0
    print(f"\n== compression: {before} -> {after} weighted symbols "
          f"({saved_pct:.1f}% fewer) ==")

    # deployment: segment UNSEEN text with the production inference
    # path — the trained inventory broadcast, greedy longest-match
    print("\n== segmenting unseen text (broadcast longest-match) ==")
    unseen = spark.createDataFrame(
        [(1, "the lowest newest offer"), (2, "wide widest low")],
        "doc_id long, text string",
    )
    for r in bpe_segment_vocab(unseen, bpe_vocab(merges)).collect():
        print(f"  {r.text!r} -> {list(r.sym_tokens)}")

    spark.stop()


if __name__ == "__main__":
    main()
