"""Physical-plan regression tests: pin the scale-critical plan shapes
(broadcasts, pushdown, single-pass validation) so a refactor that
silently degrades the plan fails CI, not the cluster."""

from data_pipeline_for_real_time_retail_analytics_spark.plans import analytics as A
from data_pipeline_for_real_time_retail_analytics_spark.plans import showcase as S
from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
    Severity,
    ValidationEngine,
    ValidationRule,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Materialize, then read the plan — with AQE the broadcast decision
    for unhinted (scale-growing) sides is made at runtime, so only the
    final adaptive plan shows it."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    df = A.pricing_summary(spark, sf_dir)
    # pushed-filter pin via FORMATTED explain: the plain plan toString
    # truncates each scan's PushedFilters list at ~100 chars, so the
    # asserted substring can silently fall off when filters are added
    # or reordered (false red even though the predicate IS pushed)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    fplan = df._jdf.queryExecution().explainString(jmode)
    assert "LessThanOrEqual(l_shipdate" in fplan
    assert "partial_sum" in _plan(df)  # map-side combine before the shuffle


def test_star_joins_broadcast(spark, sf_dir):
    """At test SF every dim fits the broadcast threshold, so the FINAL
    adaptive plan must use broadcast joins (statically hinted for
    nation/region, AQE-chosen for the scale-growing sides)."""
    for q in (A.revenue_by_segment, A.nation_revenue, A.top_customers, A.promo_revenue):
        plan = _final_plan(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{q.__name__} lost its broadcast join"
        assert "CartesianProduct" not in plan


def test_scale_growing_dims_not_hinted(spark, sf_dir):
    """customer/part/supplier grow with the scale factor: a *static*
    broadcast hint on them would OOM at 100 TB. The logical plan must not
    carry ResolvedHint for those sides (AQE may still broadcast at
    runtime — that's the point)."""
    # (fact_orders is excluded: its only hints are the bounded
    # nation/region ones inside dim_customers)
    for q in (A.revenue_by_segment, A.top_customers, A.promo_revenue,
              A.top_suppliers):
        logical = q(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in logical, f"{q.__name__} static-hints a scale-growing table"


def test_bounded_dims_are_hinted(spark, sf_dir):
    """nation (25 rows) and region (5 rows) are bounded at every scale
    factor — they must keep their static broadcast hints."""
    logical = A.nation_revenue(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical


def test_fact_orders_broadcasts_dims(spark, sf_dir):
    plan = _final_plan(S.q_fact_orders(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(A.revenue_by_segment(spark, sf_dir))
    # lineitem scan must read only the 3 needed columns, not all 11
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_validation_is_single_scan(spark, sf_dir):
    """The whole rule+schema+profile battery must compile to ONE pass
    over the table (SURVEY §4 item 1) — the reference scans once per
    rule; regressing to that at 100 TB is catastrophic."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    engine = ValidationEngine(
        rules=[
            ValidationRule("key_nn", "not_null", "o_orderkey", Severity.ERROR),
            ValidationRule(
                "price_rng", "range", "o_totalprice", Severity.WARNING,
                {"min": 0, "max": 10**6},
            ),
            ValidationRule(
                "status_allowed", "allowed_values", "o_orderstatus",
                Severity.ERROR, {"values": ["F", "O", "P"]},
            ),
        ],
        enable_profiling=True,
    )
    plan = _plan(engine.compile_plan(orders, "orders"))
    assert plan.count("Scan parquet") == 1, "validation must stay single-scan"


def test_merge_upsert_no_cartesian(spark, sf_dir):
    plan = _plan(S.q_merge_upsert(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed on the join key must sort-merge join with NO
    Exchange — the co-location contract load_bucketed promises."""
    import uuid

    from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import WarehouseSink

    sink = WarehouseSink(spark, database=f"bk_{uuid.uuid4().hex[:8]}")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    assert sink.load_bucketed(orders, "orders_b", ["o_orderkey"], 8,
                              sort_cols=["o_orderkey"]).success
    assert sink.load_bucketed(li, "lineitem_b", ["l_orderkey"], 8,
                              sort_cols=["l_orderkey"]).success

    o = spark.table(sink._qualified("orders_b"))
    l = spark.table(sink._qualified("lineitem_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(l, o.o_orderkey == l.l_orderkey)
        j.write.format("noop").mode("overwrite").save()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join re-shuffled — co-location lost"


def test_unblocked_near_dup_candidates_are_equi_joins(spark, sf_dir):
    """simhash_pairs / ngram_jaccard_pairs with NO block column must
    generate candidates through a banded equi-join (pigeonhole bands /
    MinHash-LSH bands) — never a quadratic cartesian fallback. This is
    the difference between an operator and a scale-trap at 100 TB."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        simhash_pairs(docs, max_hamming=6, block_col=None),
        ngram_jaccard_pairs(docs, block_col=None),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # candidate join keyed on band columns, not an unkeyed self-join
        assert "band" in plan


def test_minhash_band_join_pinned_to_sort_merge(spark, sf_dir):
    """The MinHash band candidate join carries hint("merge") (the r2
    simhash precedent): left to AQE, a broadcast choice serializes the
    banded build side through the driver AND defeats ReuseExchange on
    the identical self-join subtree (signatures computed twice) —
    measured 2.7x wall at 10x input (NOTES.md)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_lsh_pairs(docs)
    plan = _final_plan(df)
    assert "SortMergeJoin" in plan, "band join lost its SMJ pin"
    assert "CartesianProduct" not in plan
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "merge" in logical.lower(), "merge hint dropped"


def test_text_filters_are_shuffle_free(spark, sf_dir):
    """repetition_ratio / corpus_filter are pure per-row projections: any
    Exchange in their plans means someone broke the zero-shuffle design.
    (The n-gram lambdas themselves sit outside codegen — higher-order
    functions always do — but the scan+tokenize stage must stay fused,
    shown as the `*(n)` codegen markers.)"""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import (
        corpus_filter,
        repetition_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    for op in (repetition_ratio, corpus_filter):
        plan = _plan(op(docs))
        assert "Exchange" not in plan, f"{op.__name__} gained a shuffle"
        assert "*(" in plan, f"{op.__name__} lost whole-stage codegen"


def test_tfidf_topk_is_pushed_down(spark, sf_dir):
    """The per-doc top-k must compile to WindowGroupLimit (Spark's rank
    pushdown): each map task pre-filters to its local top-3 before the
    doc-id shuffle, so the window exchange carries k rows per doc per
    partition, not every (doc, term) score — the difference between a
    bounded and an unbounded shuffle at corpus scale. The term-count
    aggregations must keep their map-side partial phase."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import (
        tfidf_top_terms,
    )

    plan = _final_plan(tfidf_top_terms(load_table(spark, sf_dir, "documents")))
    assert "WindowGroupLimit" in plan, "row_number top-k pushdown lost"
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_new_analytics_plan_shapes(spark, sf_dir):
    """Q13 analog must keep its outer join (zero-order customers) and
    partial aggregation; Q9 analog must broadcast the bounded nation dim
    and never go cartesian."""
    plan13 = _final_plan(A.customer_order_distribution(spark, sf_dir))
    assert "partial_count" in plan13
    assert "CartesianProduct" not in plan13
    plan9 = _final_plan(A.supplier_nation_profit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan9
    assert "CartesianProduct" not in plan9


def test_term_skewed_corpus_partial_aggregates(spark):
    """Skew stress (round-5 verdict ask): one hot term in 50% of all
    documents. The only term-keyed (skewable) shuffle in the text
    operators is tfidf's doc-frequency aggregate — it must keep its
    map-side partial phase so the hot term reaches the exchange as ONE
    row per input partition, never one row per document (the
    single-reducer blowup). token_entropy's shuffles are keyed by doc_id
    by construction, so a hot TERM cannot concentrate them — pinned here
    via the plan's partitioning keys."""
    from pyspark.sql import functions as F

    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import (
        tfidf_top_terms,
        token_entropy,
    )

    n = 20_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("hotterm ")).otherwise(F.lit("")),
            F.lit("u"),
            F.col("id").cast("string"),
            F.lit(" v"),
            F.col("id").cast("string"),
        ).alias("text"),
    ).repartition(16)

    tfidf = tfidf_top_terms(docs)
    plan = tfidf._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, "doc-frequency aggregate lost map-side combine"
    # correctness under skew: the hot term's document frequency is exact
    hot = tfidf.where(F.col("term") == "hotterm").select("df").distinct().collect()
    assert [r["df"] for r in hot] == [n // 2]

    ent_plan = token_entropy(docs)._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", ent_plan):
        assert "doc_id" in part, f"token_entropy shuffle not doc-keyed: {part}"


def test_ann_multitable_is_bucket_equi_join(spark, sf_dir):
    """The multi-table sign-LSH candidate join must stay (table, bucket)-
    keyed — L× corpus rows but never cartesian/nested-loop — and keep the
    broadcast on the (small) exploded query side only."""
    from pyspark.sql import functions as F

    from data_pipeline_for_real_time_retail_analytics_spark.operators.similarity import (
        ann_topk_sign_lsh_multitable,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") % 100 == 0)
    plan = _plan(ann_topk_sign_lsh_multitable(queries, embs, k=5, n_bits=4, n_tables=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan and "tbl" in plan
    assert "BroadcastHashJoin" in plan  # query side broadcast, corpus streamed


def test_embedding_near_dup_reuses_bucket_subtree(spark, sf_dir):
    """The LSH-bucketed near-dup self-join carries hint("merge") (r8
    plan-audit finding): under AQE's broadcast choice the shared
    scan→union→bucket subtree was computed TWICE; pinned to SMJ both
    sides become identical shuffle exchanges that ReuseExchange
    collapses, so the planted corpus is scanned once per union leg (2),
    never once per join side per leg (4)."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans.llm import (
        q_embedding_near_dup,
    )

    df = q_embedding_near_dup(spark, sf_dir)
    # collect through the df's OWN QueryExecution: AQE decides exchange
    # reuse at runtime, and the noop-write helper plans a separate query
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" in plan, "near-dup self-join lost its SMJ pin"
    assert "CartesianProduct" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, "bucket subtree no longer shared"
    assert final.count("Scan parquet") <= 2, (
        "bucketed self-join subtree scanned per-side instead of reused"
    )
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "merge" in logical.lower(), "merge hint dropped"


def _query_mix():
    """``perfbench/query_mix.MIX``: the six queries the benchmark's
    analytics round runs."""
    import importlib
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = os.path.join(root, "perfbench")
    sys.path.insert(0, bench)
    try:
        return importlib.import_module("query_mix").MIX
    finally:
        sys.path.remove(bench)


def test_query_mix_builds_start_no_jobs(spark, sf_dir):
    """Once its tables have been read, building a mix query reuses their
    schemas and starts no Spark job; only collecting runs jobs."""
    import __spark_entry__
    from test_sources import _jobs_started

    queries = __spark_entry__.queries()
    mix = _query_mix()
    for name in mix:
        queries[name](spark, sf_dir)
    for name in mix:
        assert _jobs_started(spark, lambda: queries[name](spark, sf_dir)) == 0, name


def test_event_funnel_is_one_shuffle_on_user_id(spark, sf_dir):
    """The three funnel stages are stacked windows on one user_id
    exchange: no join, and besides that exchange only the one-row
    gather of the global count."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans.profiling import (
        q_event_funnel,
    )

    plan = _plan(q_event_funnel(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Exchange ") == 2  # + Exchange SinglePartition
    assert plan.count("Window [") == 3


def test_pagerank_rank_updates_are_broadcast_joins(spark, sf_dir):
    """Each PageRank iteration broadcasts its node-grain contribution
    frame into the rank update (the node set is the part catalog), so
    every join on ``node`` is a BroadcastHashJoin and none sort-merges.
    Automatic broadcasting is off while the plans are built, so only the
    operator's own hint can produce those broadcasts."""
    import re

    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        pagerankq,
        wpagerankq,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans = {
            q.__name__: _plan(q(spark, sf_dir))
            for q in (
                pagerankq.q_part_pagerank,
                wpagerankq.q_part_pagerank_weighted,
            )
        }
    finally:
        spark.conf.set(key, prev)
    for name, plan in plans.items():
        node_joins = re.findall(r"(\w+Join) \[node#\d+L?\], \[node#", plan)
        assert node_joins == ["BroadcastHashJoin"] * pagerankq.ITERATIONS, (
            name,
            node_joins,
        )
        assert "SortMergeJoin [node#" not in plan, name


def test_pagerank_top_k_takes_before_the_window(spark, sf_dir):
    """The unpartitioned ``row_number() <= TOP_K`` over the ranked nodes
    is planned as a per-partition TakeOrderedAndProject below the
    Window, so only TOP_K rows reach the Window's single partition (the
    "No Partition Defined" log line is all that is left of the one
    partition)."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        pagerankq,
        wpagerankq,
    )

    for mod, q in (
        (pagerankq, pagerankq.q_part_pagerank),
        (wpagerankq, wpagerankq.q_part_pagerank_weighted),
    ):
        lines = _plan(q(spark, sf_dir)).splitlines()
        at = [i for i, line in enumerate(lines) if "Window [row_number()" in line]
        assert len(at) == 1, q.__name__
        assert f"TakeOrderedAndProject(limit={mod.TOP_K}," in lines[at[0] + 1], (
            q.__name__,
            lines[at[0] + 1],
        )


def test_tfidf_build_starts_no_job(spark, sf_dir):
    """TF-IDF's N is a scalar subquery of the plan, so once the corpus
    schema is known, building the query starts no Spark job."""
    from test_sources import _jobs_started

    from data_pipeline_for_real_time_retail_analytics_spark.plans.llm import (
        q_tfidf_top_terms,
    )

    load_table(spark, sf_dir, "documents")
    assert _jobs_started(spark, lambda: q_tfidf_top_terms(spark, sf_dir)) == 0
