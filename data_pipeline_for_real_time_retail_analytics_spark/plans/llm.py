"""LLM training-data operator showcase queries (driver correctness gate).

Each query exercises one operator tier from operators/{dedup,textstats,
similarity,multimodal}.py over the synthetic ``documents`` /
``embeddings`` tables. Dedup/near-dup queries *plant* deterministic
duplicates first (union of mutated copies under offset ids) so the checks
have known positives instead of vacuously-empty results.

All outputs are deterministically ordered; every column is aliased to
match its DuckDB oracle in ``ORACLES`` at the bottom of this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    contamination_pairs,
    content_hash,
    dedup_clusters,
    dedup_keep_canonical,
    exact_dedup,
    minhash_lsh_pairs_between,
    ngram_jaccard_pairs,
    plant_near_dups,
    simhash_pairs,
    simhash_table,
)
from ..operators.multimodal import extract_features, media_table
from ..operators.sampling import stratified_sample, train_val_test_split
from ..operators.textclean import cleaned_documents
from ..operators.similarity import (
    ann_topk_ivf,
    ann_topk_sign_lsh,
    ann_topk_sign_lsh_multiprobe,
    ann_topk_sign_lsh_multitable,
    cosine_topk,
    embedding_near_dup_pairs,
    plant_dup_vectors,
)
from ..operators.textstats import (
    benford_profile,
    chunk_documents,
    corpus_filter,
    tfidf_top_terms,
    doc_fingerprint,
    language_id,
    quality_score,
    repetition_ratio,
    token_entropy,
    token_stats,
)
from ..sources import load_table
from . import llm_oracles as LO

# Shared corpus builders live in plans/corpusbase.py (a leaf module).
# Re-exported here so external callers keep working; sibling plan
# modules import corpusbase directly.
from .corpusbase import (  # noqa: F401  (re-exports)
    ID_OFFSET,
    PLANT_EVERY_DOCS,
    PLANT_EVERY_VECS,
    _docs,
    _embs,
    planted_minhash_pairs,
)


# -- dedup tiers ---------------------------------------------------------------


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: plant exact copies under offset ids, dedup by content
    hash keeping the lowest id — survivors are exactly the originals."""
    docs = _docs(spark, sf_dir)
    copies = docs.where(F.col("doc_id") % PLANT_EVERY_DOCS == 0).withColumn(
        "doc_id", F.col("doc_id") + ID_OFFSET
    )
    planted = docs.unionByName(copies)
    return (
        exact_dedup(planted, ["text"])
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


def q_minhash_lsh_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the corpus with planted mutants.
    The pair set is the shared ``planted_minhash_pairs`` computation —
    one materialization feeds this query AND q_dedup_clusters."""
    return planted_minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering of the MinHash near-dup pairs:
    (doc_id, cluster_id = min reachable id). Min-label propagation with
    pointer jumping (operators/dedup.py:dedup_clusters). Edge input is
    the shared ``planted_minhash_pairs`` materialization — recomputing it
    was ~85% of this query's round-4 cost."""
    return dedup_clusters(planted_minhash_pairs(spark, sf_dir)).orderBy("doc_id")


def q_incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: treat the planted mutants (ids ≥ ID_OFFSET) as
    today's ingest batch and the originals as the standing corpus; emit
    each new doc's verified near-dups in the corpus
    (operators/dedup.py:minhash_lsh_pairs_between)."""
    planted = plant_near_dups(
        _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
    )
    new_batch = planted.where(F.col("doc_id") >= ID_OFFSET)
    corpus = planted.where(F.col("doc_id") < ID_OFFSET)
    return minhash_lsh_pairs_between(new_batch, corpus).orderBy(
        "corpus_id", "new_id"
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: corpus filtered to one representative per
    near-dup cluster (min id) plus all unclustered docs — composition of
    the shared pair materialization, connected components, and
    dedup_keep_canonical (operators/dedup.py:689)."""
    planted = plant_near_dups(
        _docs(spark, sf_dir), every=PLANT_EVERY_DOCS, id_offset=ID_OFFSET
    )
    clusters = dedup_clusters(planted_minhash_pairs(spark, sf_dir))
    return (
        dedup_keep_canonical(planted, clusters)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents (with planted mutants)
    sharing ≥1 distinct word 8-gram with the every-100th original docs
    standing in as an eval set; identity pairs excluded, so the known
    positives are the planted mutants of benchmark members
    (operators/dedup.py:contamination_pairs)."""
    planted = plant_near_dups(_docs(spark, sf_dir), every=PLANT_EVERY_DOCS,
                              id_offset=ID_OFFSET)
    bench = _docs(spark, sf_dir).where(F.col("doc_id") % 100 == 0)
    return (
        contamination_pairs(planted, bench, n=8, min_common=1)
        .where(F.col("doc_id") != F.col("bench_id"))
        .orderBy("doc_id", "bench_id")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard near-dup pairs (same-source blocking)."""
    planted = plant_near_dups(_docs(spark, sf_dir), every=PLANT_EVERY_DOCS,
                              id_offset=ID_OFFSET)
    return ngram_jaccard_pairs(planted, block_col="source", threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs over the whole corpus —
    candidates from pigeonhole byte-prefix bands (exact recall), never a
    quadratic self-join, so the oracle's all-pairs answer must match."""
    planted = plant_near_dups(_docs(spark, sf_dir), every=PLANT_EVERY_DOCS,
                              id_offset=ID_OFFSET)
    return simhash_pairs(planted, max_hamming=6, block_col=None).orderBy(
        "doc_a", "doc_b"
    )


def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw 32-bit SimHash per document — checks the bit math itself."""
    return simhash_table(_docs(spark, sf_dir)).orderBy("doc_id")


# -- text analysis ---------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir)).orderBy("doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (low-
    information-content filter)."""
    return token_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile of lineitem prices vs Benford's
    law (fabricated-data anomaly probe)."""
    li = load_table(spark, sf_dir, "lineitem")
    return benford_profile(li, "l_extendedprice")


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate bigram/trigram fractions per document (Gopher-style
    repetition filter)."""
    return repetition_ratio(_docs(spark, sf_dir)).orderBy("doc_id")


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style keep/drop gate with per-signal audit
    columns."""
    return corpus_filter(_docs(spark, sf_dir)).orderBy("doc_id")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, corpus-level doc
    frequencies; N is a scalar subquery of the plan)."""
    return tfidf_top_terms(_docs(spark, sf_dir)).orderBy("doc_id", "rank")


def q_chunked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks (8-token overlap) per document."""
    return chunk_documents(_docs(spark, sf_dir)).orderBy("doc_id", "chunk_id")


# -- similarity search -----------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for every 100th vector as query."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return cosine_topk(queries, embs, k=5).orderBy("query_id", "rank")


def q_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-5 (the 100 TB scale path)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return ann_topk_sign_lsh(queries, embs, k=5, n_bits=8).orderBy("query_id", "rank")


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-5: queries probe their bucket plus all
    1-bit-flipped buckets (operators/similarity.py)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return ann_topk_sign_lsh_multiprobe(queries, embs, k=5, n_bits=8).orderBy(
        "query_id", "rank"
    )


def q_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-5 (8 tables × 4 bits over disjoint
    dimension blocks) — the LSH-amplification recall dial
    (operators/similarity.py:ann_topk_sign_lsh_multitable)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return ann_topk_sign_lsh_multitable(
        queries, embs, k=5, n_bits=4, n_tables=8, dim=64
    ).orderBy("query_id", "rank")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5: corpus in nearest-centroid cells,
    queries probe their 2 closest cells (operators/similarity.py)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % PLANT_EVERY_VECS == 0)
    return ann_topk_ivf(queries, embs, k=5, n_cells=16, n_probe=2).orderBy(
        "query_id", "rank"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with planted exact copies."""
    planted = plant_dup_vectors(_embs(spark, sf_dir), every=PLANT_EVERY_VECS,
                                id_offset=ID_OFFSET)
    return embedding_near_dup_pairs(planted, threshold=0.99).orderBy("vec_a", "vec_b")


def q_cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning chain: control-char strip, PII masking, whitespace
    collapse — all regexp_replace, no Python (operators/textclean.py)."""
    return cleaned_documents(_docs(spark, sf_dir)).orderBy("doc_id")


# -- sampling / splits -----------------------------------------------------------


def q_train_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: per (split, lang) doc counts.
    Membership is an md5 hash range of doc_id — stable across runs,
    partitionings, and corpus growth (operators/sampling.py)."""
    docs = train_val_test_split(_docs(spark, sf_dir), "doc_id")
    return (
        docs.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample: rare languages kept in
    full, the head language downsampled."""
    sampled = stratified_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        rates={"en": 0.25, "es": 1.0, "fr": 1.0, "de": 1.0},
        default_rate=0.5,
    )
    return sampled.select("doc_id", "lang").orderBy("doc_id")


# -- multimodal ------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload bytes through an Arrow-batched
    mapInPandas featurizer (deterministic stand-in for a codec)."""
    return extract_features(media_table(_docs(spark, sf_dir))).orderBy("doc_id")


QUERIES = {
    "minhash_lsh_dupes": q_minhash_lsh_dupes,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "contaminated_docs": q_contaminated_docs,
    "simhash_pairs": q_simhash_pairs,
    "simhash_values": q_simhash_values,
    "exact_dedup_docs": q_exact_dedup_docs,
    "dedup_clusters": q_dedup_clusters,
    "token_entropy": q_token_entropy,
    "token_stats": q_token_stats,
    "language_id": q_language_id,
    "quality_score": q_quality_score,
    "tfidf_top_terms": q_tfidf_top_terms,
    "repetition_ratio": q_repetition_ratio,
    "corpus_filter": q_corpus_filter,
    "ann_sign_lsh": q_ann_sign_lsh,
    "ann_multiprobe": q_ann_multiprobe,
    "ann_multitable": q_ann_multitable,
    "ann_ivf": q_ann_ivf,
    "embedding_near_dup": q_embedding_near_dup,
    "cosine_topk": q_cosine_topk,
    "multimodal_features": q_multimodal_features,
    "chunked_docs": q_chunked_docs,
    "cleaned_docs": q_cleaned_docs,
    "doc_fingerprints": q_doc_fingerprints,
    "benford_profile": q_benford_profile,
    "train_split_counts": q_train_split_counts,
    "stratified_sample_docs": q_stratified_sample_docs,
    "incremental_dedup_new_docs": q_incremental_dedup_new_docs,
    "dedup_survivors": q_dedup_survivors,
}

#: DuckDB twins rendered by llm_oracles.py (md5/bit-arithmetic based,
#: so even MinHash/SimHash/cosine are value-checked, not rows-only)
ORACLES: dict[str, str] = {
    "minhash_lsh_dupes": LO.minhash_lsh_dupes(),
    "ngram_jaccard_pairs": LO.ngram_jaccard_pairs(),
    "contaminated_docs": LO.contaminated_docs(),
    "simhash_pairs": LO.simhash_pairs(),
    "simhash_values": LO.simhash_values(),
    "exact_dedup_docs": LO.exact_dedup_docs(),
    "dedup_clusters": LO.dedup_clusters(),
    "token_entropy": LO.token_entropy(),
    "token_stats": LO.token_stats(),
    "language_id": LO.language_id(),
    "quality_score": LO.quality_score(),
    "tfidf_top_terms": LO.tfidf_top_terms(),
    "repetition_ratio": LO.repetition_ratio(),
    "corpus_filter": LO.corpus_filter(),
    "ann_sign_lsh": LO.ann_sign_lsh(),
    "ann_multiprobe": LO.ann_multiprobe(),
    "ann_multitable": LO.ann_multitable(),
    "ann_ivf": LO.ann_ivf(),
    "embedding_near_dup": LO.embedding_near_dup(),
    "cosine_topk": LO.cosine_topk(),
    "multimodal_features": LO.multimodal_features(),
    "chunked_docs": LO.chunked_docs(),
    "cleaned_docs": LO.cleaned_docs(),
    "doc_fingerprints": LO.doc_fingerprints(),
    "benford_profile": LO.benford_profile(),
    "train_split_counts": LO.train_split_counts(),
    "stratified_sample_docs": LO.stratified_sample_docs(),
    "incremental_dedup_new_docs": LO.incremental_near_dups(split_at=10_000_000),
    "dedup_survivors": LO.dedup_survivors(),
}
