"""Smallest-SF smoke for the sketch, drift, curve, ANN, dedup, search,
trend and streaming families: the oracle gate runs at sf0.01 and the
scale harness at sf0.1+, so sf0.001 is the one generated dataset these
families never touch — and the scale where empty windows, absent
groups, and sample-miss edge cases live. Each query must EXECUTE and
return a well-formed frame there; families with a structural minimum
output also assert it."""

import pytest

import __spark_entry__ as entry

SMALL = "/root/testdata/sf0.001"
QUERIES = entry.queries()

ROSTER = {
    "approx_profile_orders", "sketch_rollup_events",
    "cms_heavy_tokens", "cms_merged_heavy_tokens",
    "stream_cms_heavy_tokens",
    "events_value_drift", "events_value_ks", "events_daily_drift",
    "source_length_drift",
    "hilbert_values", "curve_locality", "hard_negatives",
    "ann_eval_metrics", "pmi_collocations",
    "part_pagerank_weighted", "session_first_touch",
    "stream_session_first_touch", "chunk_dedup_docs",
    "ivfpq_topk", "dedup_eval_metrics", "copurchase_triangles",
    "purchase_click_asof", "bloom_chunk_prefilter", "lang_quality_mix",
    "phrase_search", "length_bucket_stats", "stream_events_value_drift",
    "curation_funnel", "label_centroid_shift", "dup_cluster_sizes",
    "robust_outlier_events", "pair_jaccard_histogram",
    "priority_sample_docs", "incremental_ann_new_vecs",
    "source_overlap_matrix", "stream_kmv_distinct_bigrams",
    "click_error_interval", "bpe_merge_candidates",
    "revenue_trend_by_segment", "daily_new_vs_returning",
    "event_count_cusum",
}

#: queries whose output can legitimately be empty at 50 docs / 1k events
MAY_BE_EMPTY = {
    # planted near-dup pair grain: planting is every 25th doc, so tiny
    # corpora can hold pairs — but chunk/triangle/eval grains derive
    # from thresholded structures that may not materialize at this SF
    "copurchase_triangles",
    # ~1k events over 30 days → ~0.35 events/user/day: a click→error
    # coincidence inside one hour may simply not exist
    "click_error_interval",
    # the fixed 2-token phrase may not occur in a 50-doc corpus
    "phrase_search",
    # near-dup planting is every 25th doc → 2 plants at 50 docs; the
    # derived histograms/clusters may not materialize
    "pair_jaccard_histogram",
    "dup_cluster_sizes",
    # cross-source 8-gram co-occurrence under the df cap may vanish
    "source_overlap_matrix",
}


@pytest.mark.parametrize("name", sorted(ROSTER))
def test_runs_at_smallest_sf(spark, name):
    df = QUERIES[name](spark, SMALL)
    rows = df.collect()
    assert df.columns, name
    if name not in MAY_BE_EMPTY:
        assert rows, f"{name} empty at sf0.001"
