"""Unit tests for the round-5 curation operators: cross-document
boilerplate n-grams, target-mixture sampling, grouped quantiles, the
funnel rollup, and the stream-stream interval join (batch semantics +
streaming batch-equivalence). The DuckDB value parity for the showcase
queries lives in test_oracle_parity.py; these tests pin the operator
semantics on small hand-built inputs where the expected answer is
obvious.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
    boilerplate_ngrams,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.mixture import (
    mixture_thresholds,
    target_mixture_sample,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.quality import (
    grouped_quantiles,
)
from data_pipeline_for_real_time_retail_analytics_spark.streaming.ingest import (
    interval_join,
    run_available_now,
)


# ---------------------------------------------------------------------------
# boilerplate n-grams
# ---------------------------------------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_ngrams_finds_shared_span(spark):
    shared = "one two three four five"
    docs = _docs_df(
        spark,
        [
            (1, f"{shared} alpha beta"),
            (2, f"gamma {shared} delta"),
            (3, "totally different words here make no gram"),
        ],
    )
    out = boilerplate_ngrams(docs, n=5, min_docs=2).collect()
    grams = {r["gram"]: r for r in out}
    assert shared in grams
    assert grams[shared]["df"] == 2
    assert grams[shared]["postings"] == "1,2"
    # no gram from the unrelated doc repeats
    assert all(r["df"] >= 2 for r in out)


def test_boilerplate_ngrams_distinct_within_doc(spark):
    # the same gram twice in ONE doc counts that doc once
    docs = _docs_df(
        spark,
        [
            (1, "a b c d e x a b c d e"),
            (2, "a b c d e y"),
        ],
    )
    out = {r["gram"]: r["df"] for r in boilerplate_ngrams(docs, n=5).collect()}
    assert out["a b c d e"] == 2


def test_boilerplate_ngrams_posting_cap_and_df_cap(spark):
    shared = "p q r s t"
    docs = _docs_df(spark, [(i, shared) for i in range(8)])
    out = boilerplate_ngrams(docs, n=5, min_docs=2, max_postings=3).collect()
    (row,) = out
    assert row["df"] == 8
    assert row["postings"] == "0,1,2"  # truncated to max_postings, ascending
    capped = boilerplate_ngrams(
        docs, n=5, min_docs=2, max_postings=3, posting_df_cap=4
    ).collect()
    (row,) = capped
    assert row["df"] == 8 and row["postings"] is None  # over cap → df only


def test_boilerplate_ngrams_matches_python_reference(spark):
    """Property check against an independent pure-Python computation of
    distinct-per-doc n-gram document frequencies, over a deterministic
    pseudo-random corpus with a tiny vocabulary (forces collisions)."""
    import random

    rng = random.Random(20260814)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(60)
    ]
    n = 3
    expect: dict[str, set] = {}
    for i, text in docs:
        toks = text.split()
        for j in range(len(toks) - n + 1):
            expect.setdefault(" ".join(toks[j:j + n]), set()).add(i)
    expect_df = {g: len(ids) for g, ids in expect.items() if len(ids) >= 2}

    out = boilerplate_ngrams(
        spark.createDataFrame(docs, "doc_id long, text string"), n=n, min_docs=2
    ).collect()
    got = {r["gram"]: r["df"] for r in out}
    assert got == expect_df
    for r in out:
        assert r["postings"] == ",".join(
            str(i) for i in sorted(expect[r["gram"]])[:20]
        )


def test_mixture_missing_stratum_raises(spark):
    """A target naming a stratum with zero rows makes the mixture
    infeasible (T = min n_c/p_c = 0); the operator must fail loudly
    naming the shortfall, not silently renormalize over the strata it
    found (which would return a sample claiming an unmet mixture)."""
    df = _strata_df(spark, {"en": 100, "es": 50})
    out = target_mixture_sample(
        df, "doc_id", "lang", {"en": 0.5, "zh": 0.5}
    )
    with pytest.raises(Exception, match="infeasible"):
        out.count()


def test_mixture_and_quantiles_empty_edges(spark):
    """Empty-input edges: an empty target mixture is a config error
    (raises, instead of Spark's opaque empty-create_map analysis
    failure); quantiles of an empty frame return no rows."""
    df = _strata_df(spark, {"en": 10})
    with pytest.raises(ValueError, match="at least one stratum"):
        target_mixture_sample(df, "doc_id", "lang", {})
    empty = spark.createDataFrame([], "k string, v double")
    assert grouped_quantiles(empty, "v", ["k"]).count() == 0


def test_boilerplate_skewed_gram_partial_aggregates(spark):
    """Skew stress: one universal boilerplate gram in 50% of documents.
    The df pass must keep map-side combine (hot gram reaches the
    exchange as one row per input partition), and the posting pass must
    exclude the over-cap gram from collect_list entirely — the bounded-
    state guarantee the operator docstring claims."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(
                F.col("id") % 2 == 0, F.lit("click here to subscribe now ")
            ).otherwise(F.lit("")),
            F.lit("u"), F.col("id").cast("string"),
            F.lit(" v"), F.col("id").cast("string"),
            F.lit(" w"), F.col("id").cast("string"),
            F.lit(" x"), F.col("id").cast("string"),
            F.lit(" y"), F.col("id").cast("string"),
        ).alias("text"),
    ).repartition(16)
    out = boilerplate_ngrams(docs, n=5, min_docs=2, posting_df_cap=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, "df aggregate lost map-side combine"
    rows = out.collect()
    (hot,) = [r for r in rows if r["gram"] == "click here to subscribe now"]
    assert hot["df"] == n // 2
    assert hot["postings"] is None  # over posting_df_cap: no list built


# ---------------------------------------------------------------------------
# target-mixture sampling
# ---------------------------------------------------------------------------


def _strata_df(spark, sizes: dict[str, int]):
    rows = []
    i = 0
    for lang, n in sizes.items():
        for _ in range(n):
            rows.append((i, lang))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mixture_thresholds_binding_stratum_kept_whole(spark):
    # de is scarcest relative to its target → binds; its threshold is the
    # full bucket range (kept whole), en/es thin to proportion
    df = _strata_df(spark, {"en": 800, "es": 400, "de": 50})
    thr = {
        r["lang"]: r["__thr"]
        for r in mixture_thresholds(
            df, "lang", {"en": 0.5, "es": 0.3, "de": 0.2}
        ).collect()
    }
    # T = min(800/0.5, 400/0.3, 50/0.2) = 250
    assert thr["de"] == 10_000  # 250*0.2/50 = 1.0
    assert thr["en"] == int(250 * 0.5 / 800 * 10_000)
    assert thr["es"] == int(250 * 0.3 / 400 * 10_000)


def test_target_mixture_sample_proportions_and_drops(spark):
    df = _strata_df(spark, {"en": 2000, "es": 1000, "junk": 500})
    out = target_mixture_sample(df, "doc_id", "lang", {"en": 0.6, "es": 0.4})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert "junk" not in counts  # stratum absent from targets dropped
    # T = min(2000/0.6, 1000/0.4) = 2500 → en ≈ 1500, es = 1000 (binding)
    assert counts["es"] == pytest.approx(1000, abs=1)
    assert counts["en"] == pytest.approx(1500, rel=0.05)  # hash-rate noise
    # deterministic: same call → identical membership
    again = target_mixture_sample(df, "doc_id", "lang", {"en": 0.6, "es": 0.4})
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_mixture_thresholds_are_broadcast(spark):
    """The per-stratum threshold frame is bounded by stratum cardinality
    (dozens), never data-scale — the operator pins it as a broadcast so
    the membership filter is map-side at any corpus size."""
    df = _strata_df(spark, {"en": 200, "es": 100})
    out = target_mixture_sample(df, "doc_id", "lang", {"en": 0.5, "es": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pivot_unpivot_roundtrip(spark):
    """Reshape pair: pivot with an explicit value list, then unpivot
    (melt) back — recovers exactly the long-form aggregate once the
    NULL cells (combinations absent from the data, materialized by the
    widening) are filtered; unpivot itself keeps them."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 1, 5.0), ("a", 2, 7.0), ("b", 1, 3.0)],
        "k string, yr int, v double",
    )
    wide = df.groupBy("k").pivot("yr", [1, 2]).agg(F.sum("v"))
    long = wide.unpivot("k", ["1", "2"], "yr", "v").where(F.col("v").isNotNull())
    got = sorted((r["k"], int(r["yr"]), r["v"]) for r in long.collect())
    expect = sorted(
        (r["k"], r["yr"], r["s"])
        for r in df.groupBy("k", "yr").agg(F.sum("v").alias("s")).collect()
    )
    assert got == expect  # ("b", 2) never existed and is filtered back out


# ---------------------------------------------------------------------------
# grouped quantiles
# ---------------------------------------------------------------------------


def test_grouped_quantiles_exact_interpolation(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4]] + [("b", 10.0)],
        "k string, v double",
    )
    rows = {
        r["k"]: r
        for r in grouped_quantiles(df, "v", ["k"], probs=(0.25, 0.5)).collect()
    }
    assert rows["a"]["q25"] == pytest.approx(1.75)  # 1 + 0.75*(2-1)
    assert rows["a"]["q50"] == pytest.approx(2.5)
    assert rows["b"]["q25"] == 10.0 and rows["b"]["q50"] == 10.0


# ---------------------------------------------------------------------------
# funnel ordering semantics
# ---------------------------------------------------------------------------


def test_event_funnel_strict_ordering(spark, tmp_path, monkeypatch):
    """A click BEFORE the user's first view must not count as
    view→click, and a purchase before the first qualifying click must
    not count as view→click→purchase — the funnel is strictly ordered,
    not a per-user event-type existence check."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans.profiling import (
        q_event_funnel,
    )

    rows = [
        # user 1: proper view -> click -> purchase
        (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 10:05:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 10:10:00", 1, "purchase", 1.0, "{}"),
        # user 2: click BEFORE first view -> no funnel click
        (4, "2024-01-01 09:00:00", 2, "click", 0.0, "{}"),
        (5, "2024-01-01 10:00:00", 2, "view", 0.0, "{}"),
        # user 3: purchase before the qualifying click -> stage 3 no
        (6, "2024-01-01 10:00:00", 3, "view", 0.0, "{}"),
        (7, "2024-01-01 10:02:00", 3, "purchase", 1.0, "{}"),
        (8, "2024-01-01 10:05:00", 3, "click", 0.0, "{}"),
        # user 4: no view at all
        (9, "2024-01-01 10:00:00", 4, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "funnel_events")
    df.write.parquet(src)

    import data_pipeline_for_real_time_retail_analytics_spark.plans.profiling as prof
    import data_pipeline_for_real_time_retail_analytics_spark.sources.registry as reg

    real_load = reg.load_table
    monkeypatch.setattr(
        prof, "load_table",
        lambda spark_, sf_dir, name: spark_.read.parquet(src)
        if name == "events" else real_load(spark_, sf_dir, name),
    )
    (row,) = q_event_funnel(spark, "ignored").collect()
    assert row["n_users"] == 4
    assert row["n_view"] == 3          # users 1, 2, 3
    assert row["n_view_click"] == 2    # users 1, 3 (user 2's click too early)
    assert row["n_view_click_purchase"] == 1  # only user 1


def test_event_funnel_matches_oracle_with_null_users_and_ties(spark, tmp_path):
    """Value parity with the DuckDB oracle on the cases the one-shuffle
    plan must get right: the null user_id group counts as a viewer only
    (the oracle's JOIN drops it from later stages, and COUNT(DISTINCT)
    from n_users), a click tied in time with the view is not after it,
    a view with a null ts still makes a viewer but bounds no click, and
    a click with a null ts is never after anything."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_for_real_time_retail_analytics_spark.plans.profiling import (
        ORACLES,
        q_event_funnel,
    )

    rows = [
        # (user_id, event_type, minute); None minute = null ts
        (1, "view", 0), (1, "click", 0), (1, "click", 5), (1, "purchase", 10),
        (2, "view", 0), (2, "click", 0), (2, "purchase", 1),
        (None, "view", 0), (None, "click", 5), (None, "purchase", 10),
        (None, "view", 20),
        (3, "click", 0), (3, "purchase", 5),
        (4, "view", None), (4, "click", 5),
        (5, "view", 0), (5, "click", None), (5, "purchase", 5),
        (6, None, 0), (6, "purchase", 3),
    ]
    base = 1_704_067_200 * 10**9  # 2024-01-01 UTC, in ns
    table = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array(
            [None if m is None else base + m * 60 * 10**9 for _, _, m in rows],
            pa.timestamp("ns"),
        ),
        "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
        "event_type": pa.array([e for _, e, _ in rows], pa.string()),
        "value": pa.array([0.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    (got,) = q_event_funnel(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        )
        cur = con.execute(ORACLES["event_funnel"])
        names = [d[0] for d in cur.description]
        (want,) = cur.fetchall()
    finally:
        con.close()
    assert got.asDict() == dict(zip(names, want))
    assert (got["n_users"], got["n_view"], got["n_view_click"],
            got["n_view_click_purchase"]) == (6, 5, 1, 1)


# ---------------------------------------------------------------------------
# sketch-based approx profiles (bounded-state twins of the exact ops)
# ---------------------------------------------------------------------------


def test_approx_profile_within_tolerance(spark, sf_dir):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.quality import (
        approx_profile,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    (row,) = approx_profile(li, ["l_extendedprice"], rsd=0.05).collect()
    exact_distinct = li.select("l_extendedprice").distinct().count()
    assert row["l_extendedprice_approx_distinct"] == pytest.approx(
        exact_distinct, rel=0.10  # 2× the configured rsd as the hard gate
    )
    exact_median = li.agg(
        F.percentile(F.col("l_extendedprice"), F.lit(0.5))
    ).collect()[0][0]
    assert row["l_extendedprice_approx_qs"][1] == pytest.approx(
        exact_median, rel=0.05
    )


def test_sketched_distinct_by_group_and_union(spark, sf_dir):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.quality import (
        sketched_distinct_by_group,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = sketched_distinct_by_group(ev, "event_type", "user_id").collect()
    per_group = {r["event_type"]: r["approx_distinct"] for r in rows
                 if r["is_total"] == 0}
    (total,) = [r["approx_distinct"] for r in rows if r["is_total"] == 1]
    exact_total = ev.select("user_id").distinct().count()
    # the union of group sketches must estimate the GLOBAL cardinality,
    # not the sum of the groups (users appear in several event types)
    assert total == pytest.approx(exact_total, rel=0.05)
    assert sum(per_group.values()) > total  # overlap collapsed by union
    for et, est in per_group.items():
        exact = (
            ev.where(F.col("event_type") == et)
            .select("user_id").distinct().count()
        )
        assert est == pytest.approx(exact, rel=0.05)


# ---------------------------------------------------------------------------
# cogrouped applyInPandas cross-validation of the native as-of join
# ---------------------------------------------------------------------------


def test_asof_join_agrees_with_cogrouped_merge_asof(spark, sf_dir):
    """Two independent implementations of backward as-of semantics must
    agree on real data: the engine's merge-formulation as-of join
    (operators/asof.py, pure DataFrame ops) vs a cogrouped
    applyInPandas twin running pandas.merge_asof per user — also the
    repo's exercise of the cogroup Arrow path."""
    import pandas as pd

    from data_pipeline_for_real_time_retail_analytics_spark.operators.asof import (
        asof_join_backward,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("pid"),
        F.col("value").alias("pval"),
    )
    native = asof_join_backward(
        clicks, purchases, key_cols=["user_id"], ts_col="ts",
        right_value_cols=["pid", "pval"],
    )

    def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("ts")
        right = right.sort_values("ts").rename(columns={"ts": "r_ts"})
        out = pd.merge_asof(
            left, right[["r_ts", "pid", "pval"]],
            left_on="ts", right_on="r_ts", direction="backward",
        )
        out["pid"] = out["pid"].astype("Int64")
        return out[["event_id", "user_id", "ts", "pid", "pval"]]

    twin = (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            lambda l, r: _merge(l, r),
            schema="event_id long, user_id long, ts timestamp, "
                   "pid long, pval double",
        )
    )
    a = {r["event_id"]: (r["pid"], r["pval"]) for r in native.collect()}
    b = {r["event_id"]: (r["pid"], r["pval"]) for r in twin.collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# per-key resample + interpolate (grouped-map applyInPandas)
# ---------------------------------------------------------------------------


def test_grouped_interpolate_linear_gaps(spark):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.resample import (
        grouped_interpolate,
    )

    rows = [
        # user 1: observations at 10:00 (2.0) and 13:00 (8.0) — the
        # 11:00/12:00 buckets must interpolate to 4.0 and 6.0
        (1, "2024-01-01 10:30:00", 2.0),
        (1, "2024-01-01 13:10:00", 8.0),
        # two points in ONE bucket average first (10:00 -> 3.0)
        (2, "2024-01-01 10:00:00", 2.0),
        (2, "2024-01-01 10:40:00", 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = grouped_interpolate(df, ["user_id"], freq="1h")
    got = {
        (r["user_id"], str(r["bucket_start"])): (r["value"], r["was_observed"])
        for r in out.collect()
    }
    assert got[(1, "2024-01-01 10:00:00")] == (2.0, True)
    assert got[(1, "2024-01-01 11:00:00")] == (4.0, False)  # interpolated
    assert got[(1, "2024-01-01 12:00:00")] == (6.0, False)
    assert got[(1, "2024-01-01 13:00:00")] == (8.0, True)
    assert got[(2, "2024-01-01 10:00:00")] == (3.0, True)  # bucket mean
    # no buckets invented outside each key's observed range
    assert len(got) == 5


# ---------------------------------------------------------------------------
# interval join: batch semantics + streaming batch-equivalence
# ---------------------------------------------------------------------------


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def _join_inputs(spark):
    left = spark.createDataFrame(
        [
            (1, 7, _ts("2024-01-01 10:00:00")),
            (2, 7, _ts("2024-01-01 12:00:00")),
            (3, 8, _ts("2024-01-01 10:30:00")),
        ],
        "click_id long, user_id long, click_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (101, 7, _ts("2024-01-01 09:30:00"), 5.0),   # 30 min before click 1
            (102, 7, _ts("2024-01-01 08:59:59"), 6.0),   # > 1h before click 1
            (103, 7, _ts("2024-01-01 10:00:00"), 7.0),   # exactly at click 1
            (104, 9, _ts("2024-01-01 10:00:00"), 8.0),   # other user
        ],
        "purchase_id long, user_id long, purchase_ts timestamp, purchase_value double",
    )
    return left, right


def test_interval_join_batch_bounds(spark):
    left, right = _join_inputs(spark)
    out = interval_join(
        left, right, ["user_id"], "click_ts", "purchase_ts", lookback="1 hour"
    )
    got = sorted((r["click_id"], r["purchase_id"]) for r in out.collect())
    # click 1 matches 101 (inside) and 103 (inclusive upper bound);
    # 102 is outside the 1 h lookback (exclusive? no — 1 h AND 1 s older)
    assert got == [(1, 101), (1, 103)]
    assert set(out.columns) == {
        "click_id", "user_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    }


def test_interval_join_left_outer_batch(spark):
    left, right = _join_inputs(spark)
    out = interval_join(
        left, right, ["user_id"], "click_ts", "purchase_ts",
        lookback="1 hour", how="left_outer",
    )
    got = sorted((r["click_id"], r["purchase_id"]) for r in out.collect())
    # clicks 2 and 3 have no purchase in window → NULL right side
    assert got == [(1, 101), (1, 103), (2, None), (3, None)]


def test_interval_join_left_outer_streaming_two_phase(spark, tmp_path):
    """Outer rows emit only once the watermark proves no match can
    arrive — i.e. on a LATER trigger than the unmatched row itself.
    Phase 1 (all base data): inner matches only. Phase 2 (late files
    push both watermarks far past the unmatched clicks): the NULL-row
    completions for clicks 2 and 3 appear."""
    left, right = _join_inputs(spark)
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    ckpt, outdir = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drive():
        # a FILE sink (not memory) — it supports checkpoint recovery, so
        # the second AvailableNow pass resumes the same query
        ls = spark.readStream.schema(left.schema).parquet(ldir)
        rs = spark.readStream.schema(right.schema).parquet(rdir)
        joined = interval_join(
            ls, rs, ["user_id"], "click_ts", "purchase_ts",
            lookback="1 hour", how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return sorted(
            (r["click_id"], r["purchase_id"])
            for r in spark.read.parquet(outdir).collect()
        )

    phase1 = drive()
    assert phase1 == [(1, 101), (1, 103)]  # outer rows not yet provable

    # late traffic advances BOTH event-time watermarks past the
    # unmatched clicks (+ the 60-minute delay)
    spark.createDataFrame(
        [(99, 999, _ts("2024-01-02 10:00:00"))], left.schema
    ).write.mode("append").parquet(ldir)
    spark.createDataFrame(
        [(199, 999, _ts("2024-01-02 10:00:00"), 0.0)], right.schema
    ).write.mode("append").parquet(rdir)

    phase2 = drive()
    assert (2, None) in phase2 and (3, None) in phase2
    # inner matches were emitted once in phase 1, not re-emitted
    assert phase2.count((1, 101)) == 1 and phase2.count((1, 103)) == 1


def test_interval_join_streaming_equals_batch(spark, tmp_path):
    left, right = _join_inputs(spark)
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    ls = spark.readStream.schema(left.schema).parquet(ldir)
    rs = spark.readStream.schema(right.schema).parquet(rdir)
    joined = interval_join(
        ls, rs, ["user_id"], "click_ts", "purchase_ts", lookback="1 hour"
    )
    assert joined.isStreaming
    ckpt = tempfile.mkdtemp(prefix="ivj_ckpt_")
    try:
        spark.catalog.dropTempView("ivj_sink")
        q = run_available_now(joined, ckpt, queryName="ivj_sink",
                              output_mode="append")
        q.stop()
        stream_rows = sorted(
            (r["click_id"], r["purchase_id"])
            for r in spark.table("ivj_sink").collect()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    batch_rows = sorted(
        (r["click_id"], r["purchase_id"])
        for r in interval_join(
            left, right, ["user_id"], "click_ts", "purchase_ts", lookback="1 hour"
        ).collect()
    )
    assert stream_rows == batch_rows == [(1, 101), (1, 103)]
