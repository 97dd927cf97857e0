"""Semantic pins for the sketch, drift, curve, centrality, attribution,
chunk-dedup, IVF-PQ and triangle families — the checks that make them
trustworthy beyond the oracle hash match in tests/test_oracle_parity.py:
the banded-sketch claims really can fail, weighted centrality really
diverges from unweighted, and the attribution grain really is sessions."""

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.plans import (
    approxq,
    sessionattrq,
    wpagerankq,
)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


# ---------- approx profile ----------


def test_sketch_bands_are_falsifiable(spark):
    """The banded booleans must FLIP when the band is absurdly tight —
    proof the claim compares real sketch output, not a tautology."""
    df = approxq.q_approx_profile_orders(spark, SF_DIR)
    rows = df.collect()
    assert rows and all(r.custkey_sketch_ok for r in rows)
    assert all(r.median_sketch_ok for r in rows)
    # recompute the HLL estimate and show it is NOT exact (the sketch
    # is estimating, so the band is doing real work at this grain)
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    orders = load_table(spark, SF_DIR, "orders")
    est, exact = orders.select(
        F.approx_count_distinct("o_custkey", approxq.RSD).alias("e"),
        F.count_distinct("o_custkey").alias("x"),
    ).first()
    assert est != exact, "HLL exact at this SF — band test is vacuous"
    assert abs(est - exact) <= 3 * approxq.RSD * exact


# ---------- weighted pagerank ----------


def test_weighted_rank_diverges_from_unweighted(spark):
    """Quantity weighting must actually reorder centrality: the two
    top-20 lists differ in membership or order at sf0.01."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import pagerankq

    wtop = [
        r.part
        for r in wpagerankq.QUERIES["part_pagerank_weighted"](
            spark, SF_DIR
        ).collect()
    ]
    utop = [
        r.part for r in pagerankq.QUERIES["part_pagerank"](spark, SF_DIR).collect()
    ]
    assert wtop != utop, "weighting changed nothing — weight path inert"


def test_weighted_contribution_identity(spark):
    """The bounded-intermediate identity floor(p*w/W) ==
    (p DIV W)*w + ((p mod W)*w) DIV W on adversarial magnitudes where
    the naive product would overflow BIGINT."""
    rows = [(10**15, 7, 13), (10**15, 13, 13), (999_999_999, 10**6, 10**7),
            (5, 3, 9), (0, 4, 9)]
    df = spark.createDataFrame(rows, "p long, w long, ww long")
    got = df.select(
        F.expr("(p DIV ww) * w + ((p % ww) * w) DIV ww").alias("v")
    ).collect()
    for (p, w, ww), r in zip(rows, got):
        assert r.v == (p * w) // ww, (p, w, ww)


# ---------- session attribution ----------


def test_attribution_is_session_grain(spark):
    """n_sessions summed over first-touch types == total session count
    from the established user_sessions derivation (same gap, same
    engine) — the attribution neither drops nor double-counts
    sessions."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import temporal as TP

    attr = sessionattrq.q_session_first_touch(spark, SF_DIR)
    n_attr = attr.agg(F.sum("n_sessions")).first()[0]
    n_sessions = TP.q_user_sessions(spark, SF_DIR).count()
    assert n_attr == n_sessions
    # conversions can never exceed sessions
    for r in attr.collect():
        assert 0 <= r.n_converted <= r.n_sessions
        assert 0 <= r.conv_ppm <= 1_000_000


# ---------- chunk dedup ----------


def test_planted_quotes_come_out_empty(spark):
    """Every planted quote doc (first 64 tokens of its source, chunk-
    aligned at position 0) must lose ALL its chunks to the source's
    earlier occurrences; sources keep their full text."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import chunkdedupq

    rows = chunkdedupq.q_chunk_dedup_docs(spark, SF_DIR).collect()
    quotes = [r for r in rows if r.doc_id >= chunkdedupq.QUOTE_ID_OFFSET]
    assert quotes, "no quote docs planted — workload inert"
    for r in quotes:
        assert r.n_kept == 0, (r.doc_id, r.n_kept)
        assert r.dedup_text == ""
    sources = {
        r.doc_id: r
        for r in rows
        if r.doc_id < chunkdedupq.QUOTE_ID_OFFSET
        and (r.doc_id + chunkdedupq.QUOTE_ID_OFFSET)
        in {q.doc_id for q in quotes}
    }
    assert sources
    # a source precedes its quote in (doc_id, chunk_id) order, so it
    # keeps everything unless it repeats a chunk of an EARLIER doc
    assert any(r.n_kept == r.n_chunks for r in sources.values())


def test_chunk_dedup_idempotent(spark):
    """Deduping the deduped corpus must change nothing (no chunk
    appears twice in the survivor set)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.chunkdedup import (
        chunk_dedup,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.plans import chunkdedupq
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    once = chunk_dedup(docs.limit(200), chunk_tokens=32).where(
        F.col("dedup_text") != ""
    )
    again = chunk_dedup(
        once.select("doc_id", F.col("dedup_text").alias("text")),
        chunk_tokens=32,
    )
    changed = again.where(F.col("n_kept") != F.col("n_chunks")).count()
    assert changed == 0


# ---------- sketch rollup ----------


def test_union_rollup_row_is_consistent(spark):
    """The grand-total row must come from merged per-group sketches:
    its exact anchor equals the true overall distinct, its band holds,
    and it is bounded by the per-group structure (>= max group,
    <= sum of groups)."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import sketchq

    rows = sketchq.q_sketch_rollup_events(spark, SF_DIR).collect()
    total = [r for r in rows if r.is_total == 1]
    groups = [r for r in rows if r.is_total == 0]
    assert len(total) == 1 and groups
    assert all(r.sketch_ok for r in rows)
    t = total[0]
    assert t.event_type is None
    assert max(g.exact_distinct for g in groups) <= t.exact_distinct
    assert t.exact_distinct <= sum(g.exact_distinct for g in groups)


def test_stream_attribution_equals_batch(spark):
    """The streaming session_window attribution must equal the batch
    lag/cumsum attribution row for row — the stream/batch equivalence
    the shared oracle pins at the driver, proven engine-side here."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import streamattrq

    got = {
        r.first_type: (r.n_sessions, r.n_converted, r.conv_ppm,
                       r.purchase_cents)
        for r in streamattrq.q_stream_session_first_touch(
            spark, SF_DIR
        ).collect()
    }
    want = {
        r.first_type: (r.n_sessions, r.n_converted, r.conv_ppm,
                       r.purchase_cents)
        for r in sessionattrq.q_session_first_touch(spark, SF_DIR).collect()
    }
    assert got == want


# ---------- IVF-PQ composition ----------


def test_ivfpq_is_a_subset_of_full_adc_with_high_recall(spark):
    """The composed index must (a) only ever return candidates from
    probed cells — every (query, match) it emits appears in the
    unrestricted ADC ranking with the SAME distance — and (b) keep
    useful recall vs full ADC top-5 at this parameterization."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import ivfpqq, pqq

    comp = ivfpqq.q_ivfpq_topk(spark, SF_DIR).collect()
    full = pqq.q_pq_topk_adc(spark, SF_DIR).collect()
    full_d = {(r.query_id, r.match_id): r.adc_dist_q12 for r in full}
    full_top = {}
    for r in full:
        full_top.setdefault(r.query_id, set()).add(r.match_id)
    assert comp
    # distances agree wherever both rankings contain the pair
    for r in comp:
        if (r.query_id, r.match_id) in full_d:
            assert r.adc_dist_q12 == full_d[(r.query_id, r.match_id)]
    # recall of full-ADC top-5 within the probed candidates
    hits = sum(
        1 for r in comp if r.match_id in full_top.get(r.query_id, set())
    )
    recall = hits / sum(len(v) for v in full_top.values())
    assert recall >= 0.3, f"IVF probing lost too much: recall={recall:.2f}"


# ---------- dedup evaluation ----------


def test_dedup_eval_counts_are_consistent(spark):
    """tp bounded by both sides, totals match the planting rule, and
    the detector genuinely finds most planted pairs at 12/3@0.5."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import dedupevalq

    r = dedupevalq.q_dedup_eval_metrics(spark, SF_DIR).collect()[0]
    assert r.tp <= min(r.n_truth, r.n_found)
    assert r.fp == r.n_found - r.tp and r.fn == r.n_truth - r.tp
    assert 0 < r.recall_ppm <= 1_000_000
    assert 0 < r.precision_ppm <= 1_000_000
    assert r.recall_ppm > 500_000, "detector misses most planted pairs"


# ---------- triangle counting ----------


def test_triangles_on_known_graph(spark):
    """Degree-ordered wedge counting on a hand-built graph: K4 plus a
    pendant edge — K4 has exactly 4 triangles, each K4 node sits in 3,
    the pendant node in 0; every triangle counted exactly once."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import trianglesq
    from pyspark.sql import functions as F  # noqa: F811

    # lineitem-shaped input: each order = one clique edge (support 3x)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rows = []
    okey = 0
    for a, b in k4 + [(4, 5)]:
        for _ in range(trianglesq.MIN_SUPPORT):
            okey += 1
            rows += [(okey, a), (okey, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    import data_pipeline_for_real_time_retail_analytics_spark.plans.trianglesq as T
    # pair mining moved to the shared plans/copurchase materialization
    # (r10): patch the load there and drop the shared memo so neither
    # this fake table nor a previous test's frame leaks through
    import data_pipeline_for_real_time_retail_analytics_spark.plans.copurchase as CP
    from data_pipeline_for_real_time_retail_analytics_spark.plans import shared

    orig = CP.load_table
    shared.clear()
    try:
        CP.load_table = lambda spark, sf_dir, name: li
        got = {r.part: r.n_triangles
               for r in T.q_copurchase_triangles(spark, "ignored").collect()}
    finally:
        CP.load_table = orig
        shared.clear()
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
