"""Semantic pins for robust outliers, the Jaccard histogram, priority
sampling, incremental ANN and source overlap — driver-identical parity
for all five lives in tests/test_oracle_parity.py; these tests prove
the semantics BEHIND the hash match: the MAD gate counts a
hand-computed outlier, the histogram is the pair set re-binned,
priority sampling obeys the top-k / weight-bias / DLT-estimator laws,
the ANN ingest gate is exactly bimodal on the planted batch, and the
overlap matrix counts a constructed shared gram exactly once."""

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators.prioritysample import (
    priority_sample,
)
from data_pipeline_for_real_time_retail_analytics_spark.plans import (
    crossdupq,
    incannq,
    outlierq,
    pairsimq,
    prioritysampleq,
)
from data_pipeline_for_real_time_retail_analytics_spark.plans.corpusbase import (
    planted_minhash_pairs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


# ---------- robust outliers ----------


def test_mad_gate_counts_a_hand_computed_outlier(spark, tmp_path):
    """values [1..7, 1000] for one type: median 4.5, deviations
    [3.5, 2.5, 1.5, .5, .5, 1.5, 2.5, 995.5] → MAD 2.0, threshold 6.0
    — exactly one outlier (the 1000). A second constant-valued type has
    MAD 0 and zero outliers (every value IS the median)."""
    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 1000])]
    rows += [(100 + i, "b", 5.0) for i in range(4)]
    (
        spark.createDataFrame(rows, "event_id long, event_type string, value double")
        .withColumn("ts", F.current_timestamp())
        .withColumn("user_id", F.lit(1).cast("long"))
        .withColumn("props", F.lit("{}"))
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/events.parquet")
    )
    out = {
        r.event_type: r
        for r in outlierq.q_robust_outlier_events(spark, str(tmp_path)).collect()
    }
    a = out["a"]
    assert (a.median_value, a.mad, a.n_outliers) == (4.5, 2.0, 1)
    assert a.outlier_ppm == 1_000_000 // 8
    b = out["b"]
    assert (b.mad, b.n_outliers) == (0.0, 0)


def test_outliers_exist_in_every_real_event_type(spark):
    """Falsifiability on the real table: every type carries a nonzero
    MAD and a nonzero outlier count (the generator's value tail)."""
    rows = outlierq.q_robust_outlier_events(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.mad > 0 and r.n_outliers > 0 for r in rows)
    assert all(0 < r.outlier_ppm < 500_000 for r in rows)


# ---------- pair jaccard histogram ----------


def test_histogram_is_the_pair_set_rebinned(spark):
    pairs = planted_minhash_pairs(spark, SF_DIR).collect()
    expected = {}
    for p in pairs:
        b = int(p.jaccard * 20.0)
        expected[b] = expected.get(b, 0) + 1
    got = {
        r.bin: r.n_pairs
        for r in pairsimq.q_pair_jaccard_histogram(spark, SF_DIR).collect()
    }
    assert got == expected
    assert sum(got.values()) == len(pairs)


def test_histogram_bins_respect_the_dedup_threshold(spark):
    """Threshold 0.5 ⇒ no bin below 10; planted 2-token mutants are
    high-similarity, so mass must sit at 0.85+."""
    rows = pairsimq.q_pair_jaccard_histogram(spark, SF_DIR).collect()
    assert rows and all(r.bin >= 10 for r in rows)
    assert all(r.bin <= 20 for r in rows)
    assert all(r.bin_lo <= r.min_jaccard <= r.max_jaccard for r in rows)
    assert max(r.bin for r in rows) >= 17


# ---------- priority sampling ----------


def test_priority_sample_is_exactly_the_topk(spark):
    """Every included priority ≥ every excluded priority, recomputed
    independently from the operator's own documented formula."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pri = docs.select(
        "doc_id",
        F.expr(
            "(greatest(coalesce(CAST(n_chars AS LONG), 1L), 1L) * 4294967296L)"
            " DIV (CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            " ':ps')), 1, 8), 16, 10) AS LONG) + 1L)"
        ).alias("p"),
    ).collect()
    sample = prioritysampleq.q_priority_sample_docs(spark, SF_DIR).collect()
    assert len(sample) == prioritysampleq.K
    sampled_ids = {r.doc_id for r in sample}
    min_in = min(r.priority for r in sample)
    max_out = max(r.p for r in pri if r.doc_id not in sampled_ids)
    assert min_in >= max_out
    by_id = {r.doc_id: r.p for r in pri}
    assert all(by_id[r.doc_id] == r.priority for r in sample)


def test_priority_sample_prefers_heavy_docs_and_estimates_totals(spark):
    """Weight bias (sample mean weight > corpus mean) and the DLT
    estimator law: Σ max(w, τ) over the sample reproduces the corpus
    total weight (measured 0.02% off at sf0.01 — pinned to ±5%)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    truth = docs.agg(
        F.sum(F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1))).alias("t"),
        F.avg(F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1))).alias("m"),
    ).collect()[0]
    sample = prioritysampleq.q_priority_sample_docs(spark, SF_DIR).collect()
    mean_w = sum(r.weight for r in sample) / len(sample)
    assert mean_w > truth.m * 1.1
    est = sum(r.est_weight for r in sample)
    assert abs(est / truth.t - 1) < 0.05


def test_priority_sample_exhaustive_when_k_covers_input(spark):
    """k ≥ n ⇒ every row included, τ = 0 and ŵ = w exactly."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, w long"
    )
    out = priority_sample(df, k=5, weight_col="w", id_col="id").collect()
    assert len(out) == 3
    assert all(r.est_weight == r.weight for r in out)
    assert {r.rank for r in out} == {1, 2, 3}


def test_priority_sample_clamps_null_ids_and_weights(spark):
    df = spark.createDataFrame(
        [(None, 10), (2, None), (3, -4)], "id long, w long"
    )
    out = priority_sample(df, k=5, weight_col="w", id_col="id").collect()
    assert {r.id for r in out} == {2, 3}
    assert all(r.weight == 1 for r in out)


def test_priority_sample_rejects_reserved_column_clashes(spark):
    """Inputs already carrying the emitted/working names would be
    silently overwritten (or break the τ drop) — rejected loudly, the
    rangejoin.py reserved-name discipline."""
    import pytest

    for clash in ("priority", "rank", "est_weight", "tau"):
        df = spark.createDataFrame(
            [(1, 10, 0)], f"id long, w long, {clash} long"
        )
        with pytest.raises(ValueError, match="reserved"):
            priority_sample(df, k=1, weight_col="w", id_col="id")
    # the one legitimate overlap: weight_col == "weight" IS the output
    df = spark.createDataFrame([(1, 10), (2, 3)], "id long, weight long")
    out = priority_sample(df, k=2, weight_col="weight", id_col="id").collect()
    assert {r.weight for r in out} == {10, 3}
    # but a bystander "weight" column that is NOT the weight_col clashes
    df2 = spark.createDataFrame([(1, 10, 0)], "id long, w long, weight long")
    with pytest.raises(ValueError, match="reserved"):
        priority_sample(df2, k=1, weight_col="w", id_col="id")


# ---------- incremental ANN ----------


def test_ingest_gate_is_exactly_bimodal(spark):
    rows = incannq.q_incremental_ann_new_vecs(spark, SF_DIR).collect()
    novel = [r for r in rows if r.query_id >= incannq.NOVEL_OFFSET]
    planted = [r for r in rows if incannq.COPY_OFFSET <= r.query_id < incannq.NOVEL_OFFSET]
    # every planted copy surfaces its original at rank 1, cosine exactly 1
    rank1 = {r.query_id: r for r in planted if r.rank == 1}
    assert len(rank1) == 5
    for qid, r in rank1.items():
        assert r.match_id == qid - incannq.COPY_OFFSET
        assert r.cosine_sim == 1.0 and r.is_near_dup
    # no reversed (novel) vector trips the gate, and their cosines are low
    assert novel and not any(r.is_near_dup for r in novel)
    assert max(r.cosine_sim for r in novel) < 0.5


# ---------- source overlap matrix ----------


def test_overlap_matrix_counts_a_constructed_shared_gram(spark, tmp_path):
    """Two sources share exactly one 8-gram (same 8 tokens embedded in
    different surroundings); a third source shares nothing. The kept-
    gram universe and the ppm denominator follow."""
    shared = "q w e r t y u i"
    rows = [
        (1, f"aa bb {shared} cc", "en", "sA", 1),
        (2, f"dd {shared} ee ff", "en", "sB", 1),
        (3, "zz yy xx ww vv uu tt ss rr qq", "en", "sC", 1),
    ]
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/documents.parquet")
    )
    out = crossdupq.q_source_overlap_matrix(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # sA and sB: 11 tokens → 4 distinct 8-grams each, exactly 1 shared
    assert (r.source_a, r.source_b, r.shared_grams) == ("sA", "sB", 1)
    assert r.grams_a == 4 and r.grams_b == 4
    assert r.overlap_ppm == 1_000_000 // 4


def test_overlap_matrix_real_corpus_has_the_syndication_signal(spark):
    rows = crossdupq.q_source_overlap_matrix(spark, SF_DIR).collect()
    assert len(rows) == 22
    assert all(r.source_a < r.source_b for r in rows)
    assert all(0 < r.overlap_ppm <= 1_000_000 for r in rows)
    top = max(rows, key=lambda r: r.shared_grams)
    assert (top.source_a, top.source_b, top.shared_grams) == ("src1", "src5", 137)


def test_overlap_matrix_source_cap_bounds_the_fanout(spark, tmp_path):
    """A gram present in MORE than SOURCE_CAP sources is excluded from
    the pair join — the posting-list bound that keeps the fanout
    ≤ C(cap, 2) per gram at corpus scale."""
    ubiquitous = "a b c d e f g h"
    rows = [
        (i, ubiquitous, "en", f"s{i}", 1)
        for i in range(crossdupq.SOURCE_CAP + 1)
    ]
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/documents.parquet")
    )
    assert crossdupq.q_source_overlap_matrix(spark, str(tmp_path)).count() == 0


# ---------- plan-shape pins for the audited perf fixes ----------


def _executed(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_overlap_matrix_plan_has_no_join_on_the_gram_key(spark):
    """The bounded-posting rewrite: pair expansion is a map-side array
    transform, so the executed plan must carry NO sort-merge or
    cartesian join (the first-draft self-join recomputed the posting
    subtree 4x — 8 parquet scans, 26 shuffles)."""
    plan = _executed(crossdupq.q_source_overlap_matrix(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # every consumer reads the eager checkpoints (dist / multi): a
    # parquet scan in the FINAL plan would mean some branch re-derives
    # the corpus lineage instead (the outlierq 14-scan pathology)
    assert plan.count("Scan parquet") == 0


def test_outlier_plan_scans_events_at_most_twice(spark):
    """The localCheckpointed med/mad frames keep the final three-way
    join from re-deriving the events lineage (14 scans in the
    pre-checkpoint formatted plan). Executed-plan count: the formatted
    explain lists every scan twice (tree + details), so pin on the
    executed tree."""
    plan = _executed(outlierq.q_robust_outlier_events(spark, SF_DIR))
    assert plan.count("Scan parquet") <= 2


def test_incann_plan_scans_embeddings_at_most_three_times(spark):
    """Two batch branches + one corpus side — the minimum for the
    union-batch shape; the corpus must not be re-scanned per branch."""
    plan = _executed(incannq.q_incremental_ann_new_vecs(spark, SF_DIR))
    assert plan.count("Scan parquet") <= 3


# ---------- streaming KMV ----------


def test_stream_kmv_ran_multiple_batches_and_truncated(spark):
    """The staged multi-file corpus at maxFilesPerTrigger=1 must drive
    SEVERAL micro-batches (the cross-batch merge law is the point), and
    per-source bigram vocabularies (634-740 at sf0.01) must exceed
    k = 256 so the truncation + estimator regimes both fire; the
    estimate stays inside a generous KMV error band (σ ≈ 6.3%)."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        kmvq,
        streamkmvq,
    )

    rows = streamkmvq.q_stream_kmv_distinct_bigrams(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r.n_kept == kmvq.K for r in rows)
    assert all(r.exact_distinct > kmvq.K for r in rows)
    assert all(abs(r.est_distinct / r.exact_distinct - 1) < 0.15 for r in rows)
    # the memory sink left by the drain carries the monotone counter
    ups = spark.table("stream_kmv_sketch").agg(F.max("upd")).collect()[0][0]
    assert ups >= 3


def test_stream_kmv_sketch_equals_the_batch_build(spark):
    """Engine-side stream ≡ batch: the same sketch rebuilt with the
    batch bottom-k operators over the same bigram hashes must agree
    row-for-row (the streamdriftq discipline, beyond the shared-shape
    oracle)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.kmv import (
        bottom_k_hashes,
        kmv_estimate,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        kmvq,
        streamkmvq,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.plans.corpusbase import (
        _docs,
    )

    streamed = sorted(
        tuple(r)
        for r in streamkmvq.q_stream_kmv_distinct_bigrams(spark, SF_DIR).collect()
    )
    hashed = streamkmvq._bigram_hashes(_docs(spark, SF_DIR)).distinct()
    est = kmv_estimate(
        bottom_k_hashes(hashed, ["source"], kmvq.K, kmvq.N_SALTS),
        ["source"],
        kmvq.K,
    )
    exact = hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    batch = sorted(
        tuple(r) for r in est.join(exact, "source").orderBy("source").collect()
    )
    assert streamed == batch


def test_stream_kmv_identical_under_rocksdb_state_store(spark):
    """The r9 RocksDB discipline extended to the custom-state sketch:
    the bottom-k arrays maintained by applyInPandasWithState under the
    production RocksDB provider must yield the identical estimate table
    (provider binds at stream start — flip the conf around the
    drive)."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        streamkmvq,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, rocks)
    try:
        out = streamkmvq.q_stream_kmv_distinct_bigrams(
            spark, SF_DIR
        ).toPandas()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    default = streamkmvq.q_stream_kmv_distinct_bigrams(
        spark, SF_DIR
    ).toPandas()
    assert out.to_dict("records") == default.to_dict("records")
