"""Semantic pins for the batch interval join, BPE merge mining and the
revenue trend — driver-identical parity for all three lives in
tests/test_oracle_parity.py; these tests prove the semantics BEHIND
the hash match: the interval join's bounds cut at exactly the
microsecond, the binned plan equals a brute-force range join and never
degenerates to a nested loop, BPE counts obey the multiplicity and
linearity laws against an independent pure-Python recomputation, and
the OLS slope reproduces hand-built closed forms.
"""

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (
    bpe_top_merges,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.rangejoin import (
    interval_join_binned,
)
from data_pipeline_for_real_time_retail_analytics_spark.plans import (
    bpeq,
    rangejoinq,
    trendq,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


# ---------- batch interval join ----------


def _ts_frame(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    for c in df.columns:
        if c.endswith("_ts"):
            df = df.withColumn(c, F.to_timestamp(c))
    return df


def test_interval_join_bounds_cut_at_the_microsecond(spark):
    """gap == window kept (inclusive), one microsecond more dropped; a
    same-instant right row matches (gap 0); a right row BEFORE the left
    never matches; NULL keys and NULL timestamps never match."""
    left = _ts_frame(
        spark,
        [
            (1, 10, "2024-01-01 00:00:00"),
            (2, 20, "2024-01-01 00:00:00"),
            (3, 30, "2024-01-01 00:00:00"),
            (4, 40, "2024-01-01 00:00:00"),
            (5, None, "2024-01-01 00:00:00"),
            (6, 60, None),
        ],
        "l_id long, k long, l_ts string",
    )
    right = _ts_frame(
        spark,
        [
            (100, 10, "2024-01-01 01:00:00"),          # gap == 3600 s: kept
            (200, 20, "2024-01-01 01:00:00.000001"),   # +1 µs: dropped
            (300, 30, "2024-01-01 00:00:00"),          # same instant: kept
            (400, 40, "2023-12-31 23:59:59.999999"),   # before left: dropped
            (500, None, "2024-01-01 00:30:00"),
            (600, 60, "2024-01-01 00:30:00"),
        ],
        "r_id long, k long, r_ts string",
    )
    got = {
        (r.l_id, r.r_id): r.gap_us
        for r in interval_join_binned(
            left, right, ["k"], "l_ts", "r_ts", 3600, gap_col="gap_us"
        ).collect()
    }
    assert got == {(1, 100): 3_600_000_000, (3, 300): 0}


def test_interval_join_equals_brute_force_on_real_data(spark):
    """The binned equi-join answer is EXACTLY the brute-force range
    join's (plain conditional join, no binning) — independent
    recomputation on the real events table."""
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("ets"),
    )
    gap = F.expr("timestampdiff(MICROSECOND, cts, ets)")
    brute = sorted(
        (r.cu, r.click_id, r.error_id)
        for r in clicks.join(
            errors,
            (F.col("cu") == F.col("eu"))
            & (gap >= 0)
            & (gap <= rangejoinq.GAP_SECONDS * 1_000_000),
        ).collect()
    )
    binned = sorted(
        (r.user_id, r.click_id, r.error_id)
        for r in rangejoinq.q_click_error_interval(spark, SF_DIR).collect()
    )
    assert binned == brute
    assert len(binned) > 0, "vacuous window on real data"


def test_interval_join_plan_is_an_equi_join_not_a_nested_loop(spark):
    """The whole point of the binning: the executed plan must contain
    no BroadcastNestedLoopJoin / CartesianProduct (what a raw range
    predicate degenerates to)."""
    df = rangejoinq.q_click_error_interval(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_guards(spark):
    df = _ts_frame(
        spark, [(1, 1, "2024-01-01 00:00:00")], "a long, k long, l_ts string"
    )
    r = _ts_frame(
        spark, [(1, 1, "2024-01-01 00:00:00")], "a long, k long, r_ts string"
    )
    with pytest.raises(ValueError, match="disjoint"):
        interval_join_binned(df, r, ["k"], "l_ts", "r_ts", 60)
    with pytest.raises(ValueError, match="max_gap_seconds"):
        interval_join_binned(
            df, r.withColumnRenamed("a", "b"), ["k"], "l_ts", "r_ts", 0
        )
    # a sub-microsecond gap rounds to a zero bin width — must be a loud
    # error, not NULL bins silently dropping every pair
    with pytest.raises(ValueError, match="microsecond"):
        interval_join_binned(
            df, r.withColumnRenamed("a", "b"), ["k"], "l_ts", "r_ts", 1e-7
        )
    # a gap_col colliding with an input column would be silently
    # clobbered by withColumn — rejected loudly instead
    with pytest.raises(ValueError, match="gap_col"):
        interval_join_binned(
            df, r.withColumnRenamed("a", "b"), ["k"], "l_ts", "r_ts", 60,
            gap_col="b",
        )


# ---------- BPE merge mining ----------


def test_bpe_multiplicity_and_weighting_laws(spark):
    """'aaaa' contributes pair 'aa' three times per occurrence; word
    frequency multiplies: corpus [aaaa ×2 docs, 'ab cd' ×1] →
    aa: 6, ab: 1, cd: 1."""
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaa"), (3, "ab cd")], "doc_id long, text string"
    )
    got = {
        r.pair: r.n_occurrences for r in bpe_top_merges(docs, 10).collect()
    }
    assert got == {"aa": 6, "ab": 1, "cd": 1}


def test_bpe_single_char_and_null_text_contribute_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "xy")], "doc_id long, text string"
    )
    got = {
        r.pair: r.n_occurrences for r in bpe_top_merges(docs, 10).collect()
    }
    assert got == {"xy": 1}


def test_bpe_matches_pure_python_recomputation(spark):
    """The full top-20 on real data equals an independent pure-Python
    BPE iteration-1 count (no Spark, no SQL in common)."""
    from collections import Counter

    texts = [
        r.text
        for r in load_table(spark, SF_DIR, "documents").select("text").collect()
        if r.text is not None
    ]
    vocab = Counter(
        tok for t in texts for tok in t.strip().split() if len(tok) >= 2
    )
    pairs = Counter()
    for tok, wt in vocab.items():
        for i in range(len(tok) - 1):
            pairs[tok[i : i + 2]] += wt
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[: bpeq.TOP_K]
    got = [
        (r.pair, r.n_occurrences)
        for r in bpeq.q_bpe_merge_candidates(spark, SF_DIR).collect()
    ]
    assert got == want


# ---------- revenue trend ----------


def _run_trend(spark, orders_rows, cust_rows):
    orders = spark.createDataFrame(
        orders_rows, "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate string"
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    cust = spark.createDataFrame(
        cust_rows, "c_custkey long, c_mktsegment string"
    )
    orig = trendq.load_table
    try:
        trendq.load_table = lambda spark, sf_dir, name: (
            orders if name == "orders" else cust
        )
        return {
            r.c_mktsegment: r
            for r in trendq.q_revenue_trend_by_segment(spark, "ignored").collect()
        }
    finally:
        trendq.load_table = orig


def test_trend_reproduces_an_exact_line(spark):
    """Daily revenue 100 + 200·day cents → slope exactly 2.0 dollars =
    200 cents/day; a constant segment slopes exactly 0.0."""
    orders = [
        # segment LINE: day d revenue (100 + 200*d) cents = 1.00 + 2.00*d
        (d, 1, 1.00 + 2.00 * d, f"2024-01-{d + 1:02d} 00:00:00")
        for d in range(5)
    ] + [
        # segment FLAT: constant 7.00
        (100 + d, 2, 7.00, f"2024-01-{d + 1:02d} 00:00:00")
        for d in range(5)
    ]
    cust = [(1, "LINE"), (2, "FLAT")]
    got = _run_trend(spark, orders, cust)
    assert got["LINE"].slope_cents_per_day == 200.0
    assert got["FLAT"].slope_cents_per_day == 0.0
    assert got["LINE"].n_days == 5
    assert got["LINE"].total_cents == sum(100 + 200 * d for d in range(5))


def test_trend_single_day_segment_is_null_not_a_crash(spark):
    got = _run_trend(
        spark,
        [(1, 1, 5.0, "2024-01-01 00:00:00")],
        [(1, "ONE")],
    )
    assert got["ONE"].slope_cents_per_day is None
    assert got["ONE"].n_days == 1


def test_trend_slope_is_translation_invariant(spark):
    """Shifting every date by 30 days cannot change any slope (exact
    integer invariance of the OLS closed form — not merely approximate)."""
    base = [
        (i, 1 + (i % 2), float(10 + 3 * i), f"2024-02-{(i % 9) + 1:02d} 00:00:00")
        for i in range(12)
    ]
    shifted = [
        (k, c, p, d.replace("2024-02-", "2024-03-")) for k, c, p, d in base
    ]
    cust = [(1, "A"), (2, "B")]
    a = {
        s: r.slope_cents_per_day for s, r in _run_trend(spark, base, cust).items()
    }
    b = {
        s: r.slope_cents_per_day
        for s, r in _run_trend(spark, shifted, cust).items()
    }
    assert a == b


# ---------- daily new vs returning ----------


def _run_audience(spark, rows):
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        audienceq,
    )

    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = audienceq.load_table
    try:
        audienceq.load_table = lambda spark, sf_dir, name: ev
        return {
            r.day: r
            for r in audienceq.q_daily_new_vs_returning(
                spark, "ignored"
            ).collect()
        }
    finally:
        audienceq.load_table = orig


def test_audience_first_touch_decomposition(spark):
    """Hand timeline: u1 active d1+d2, u2 active d2 only, u3 active
    d1+d3; a user active twice in one day counts once."""
    got = _run_audience(
        spark,
        [
            (1, 1, "2024-01-01 01:00:00"),
            (2, 1, "2024-01-01 02:00:00"),  # same user+day: counts once
            (3, 1, "2024-01-02 01:00:00"),
            (4, 2, "2024-01-02 01:00:00"),
            (5, 3, "2024-01-01 01:00:00"),
            (6, 3, "2024-01-03 01:00:00"),
        ],
    )
    assert (got["2024-01-01"].n_active_users,
            got["2024-01-01"].n_new_users,
            got["2024-01-01"].n_returning_users) == (2, 2, 0)
    assert (got["2024-01-02"].n_active_users,
            got["2024-01-02"].n_new_users,
            got["2024-01-02"].n_returning_users) == (2, 1, 1)
    assert (got["2024-01-03"].n_active_users,
            got["2024-01-03"].n_new_users,
            got["2024-01-03"].n_returning_users) == (1, 0, 1)


def test_audience_day_one_is_all_new_and_accounting_holds(spark):
    """On real data: the first day is 100% new by definition; every
    day's split sums to its active count; total new across days equals
    the distinct user count."""
    from data_pipeline_for_real_time_retail_analytics_spark.plans import (
        audienceq,
    )

    rows = audienceq.q_daily_new_vs_returning(spark, SF_DIR).collect()
    assert rows
    first = min(rows, key=lambda r: r.day)
    assert first.n_new_users == first.n_active_users > 0
    for r in rows:
        assert r.n_active_users == r.n_new_users + r.n_returning_users
    n_users = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_new_users for r in rows) == n_users


# ---------- CUSUM changepoint ----------


def _cusum_python(xs, k):
    s, out = 0, []
    for x in xs:
        s = max(0, s + (x - k))
        out.append(s)
    return out


def _run_cusum(spark, rows):
    from data_pipeline_for_real_time_retail_analytics_spark.plans import cusumq

    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = cusumq.load_table
    try:
        cusumq.load_table = lambda spark, sf_dir, name: ev
        return {
            r.event_type: r
            for r in cusumq.q_event_count_cusum(spark, "ignored").collect()
        }
    finally:
        cusumq.load_table = orig


def test_cusum_detects_a_planted_level_shift(spark):
    """10 days at 2 events/day then 10 days at 6/day: k = ceil(80/20)
    = 4, the CUSUM climbs 2/day after the shift and the first alarm
    (s > k) lands exactly on shift day + 3 — verified against the
    literal Page recursion computed in Python."""
    rows = []
    eid = 0
    for d in range(20):
        n = 2 if d < 10 else 6
        for _ in range(n):
            rows.append((eid, "shift", f"2024-01-{d + 1:02d} 12:00:00"))
            eid += 1
    got = _run_cusum(spark, rows)["shift"]
    xs = [2] * 10 + [6] * 10
    k = (sum(xs) + len(xs) - 1) // len(xs)
    ss = _cusum_python(xs, k)
    assert got.slack_k == k
    assert got.max_cusum == max(ss)
    assert got.n_alarm_days == sum(1 for s in ss if s > k)
    first = next(i for i, s in enumerate(ss) if s > k)
    assert got.first_alarm_day == f"2024-01-{first + 1:02d}"
    assert got.n_alarm_days > 0


def test_cusum_zero_count_gap_days_enter_the_series(spark):
    """A type with events only on days 1 and 5 still spans the global
    4-day grid of a busier type: its n_days is the full span, the gap
    days count as x = 0."""
    rows = [(1, "sparse", "2024-01-01 12:00:00"),
            (2, "sparse", "2024-01-05 12:00:00")]
    rows += [
        (10 + d, "busy", f"2024-01-{d + 1:02d} 12:00:00") for d in range(5)
    ]
    got = _run_cusum(spark, rows)
    assert got["sparse"].n_days == 5
    assert got["busy"].n_days == 5


def test_cusum_matches_python_recursion_on_real_data(spark):
    """Every per-type (max, alarms) on the real events table equals the
    literal recursion computed independently from the collected daily
    counts (dense grid included)."""
    from collections import Counter

    from data_pipeline_for_real_time_retail_analytics_spark.plans import cusumq

    ev = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", F.to_date("ts").alias("day"))
        .collect()
    )
    counts = Counter((r.event_type, r.day) for r in ev)
    days = sorted({d for _, d in counts})
    import datetime

    lo, hi = min(days), max(days)
    grid = [lo + datetime.timedelta(days=i) for i in range((hi - lo).days + 1)]
    got = {
        r.event_type: r
        for r in cusumq.q_event_count_cusum(spark, SF_DIR).collect()
    }
    for typ in {t for t, _ in counts}:
        xs = [counts.get((typ, d), 0) for d in grid]
        k = (sum(xs) + len(xs) - 1) // len(xs)
        ss = _cusum_python(xs, k)
        assert got[typ].slack_k == k
        assert got[typ].max_cusum == max(ss)
        assert got[typ].n_alarm_days == sum(1 for s in ss if s > k)


# ---------- iterative BPE trainer ----------


def _bpe_python(vocab_counts, n_merges):
    """Literal Sennrich reference: symbol sequences, pair counts,
    greedy left-to-right merge, (count DESC, pair ASC) ties."""
    vocab = {tuple(w): c for w, c in vocab_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def test_bpe_learn_matches_the_sennrich_reference(spark):
    """The classic corpus {low:5, lower:2, newest:6, widest:3}: six
    learned merges equal the literal reference algorithm, including
    weighted counts and tie order."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (
        bpe_learn,
    )

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = bpe_learn(docs, 6)
    want = _bpe_python(counts, 6)
    assert got == want
    # the first merge of this corpus is famously 'es' (9 = newest 6 +
    # widest 3); hard-pin it so the reference itself can't drift
    assert got[0] == ("e", "s", 9)


def test_bpe_learn_greedy_overlap_and_exhaustion(spark):
    """'aaaa'×3: merge 1 is (a,a) COUNTED with overlap (3 positions per
    word — the Sennrich get_stats semantics) but MERGED greedily
    non-overlapping, so the vocab becomes 'aa aa' and merge 2 is
    (aa,aa)=3; then every word is one symbol and the trainer stops
    early, returning fewer merges than asked."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (
        bpe_learn,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    got = bpe_learn(docs, 10)
    assert got == [("a", "a", 9), ("aa", "aa", 3)]


def test_bpe_segment_reproduces_the_trainers_final_vocab(spark):
    """Segmentation law: replaying the learned merges over the training
    corpus reproduces the trainer's own final symbol frame for EVERY
    distinct word (inference ≡ training end state), and an unseen word
    segments with the same merges (only learned pairs apply)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (
        bpe_learn,
        bpe_segment,
    )

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges, final_vocab = bpe_learn(docs, 6, return_final_vocab=True)
    # trainer end state, keyed by the word each syms row reassembles to
    want = {
        "".join(r.syms): list(r.syms) for r in final_vocab.collect()
    }
    words = spark.createDataFrame(
        [(w,) for w in counts], "text string"
    )
    got = {
        r.text: list(r.sym_tokens)
        for r in bpe_segment(words, merges).collect()
    }
    assert got == want
    unseen = spark.createDataFrame(
        [("lowest",), (None,)], "text string"
    )
    seg = {r.text: r.sym_tokens for r in bpe_segment(unseen, merges).collect()}
    # 'lowest' = low + est under this merge table ('lo','ow'→'low' and
    # 'es','est' are all learned on this corpus) — recompute by hand
    syms = list("lowest")
    for a, b, _n in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    assert seg["lowest"] == syms
    assert seg[None] is None


def test_bpe_segment_delegates_production_scale_tables_to_longest_match(spark):
    """Past the replay limit, bpe_segment routes to the broadcast
    longest-match segmenter instead of compiling a 65-fold expression
    tree — pinned via the semantic switch itself: a later-rank rule's
    product feeding an earlier rule segments differently on the two
    paths (see test_bpe_segmenter.py for the full semantics pins)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.bpe import (
        bpe_segment,
    )

    docs = spark.createDataFrame([("xyz ab",)], "text string")
    divergent = [("x", "yz"), ("y", "z")]
    # small table: single-pass rank-order replay — rule 1 already passed
    # when rule 2 creates "yz"
    small = bpe_segment(docs, divergent).collect()[0].sym_tokens
    assert small == ["x", "yz", "a", "b"]
    # pad the same table past the limit with inert rules: the fallback
    # longest-match path now matches the full product "xyz"
    padded = divergent + [("q", str(i)) for i in range(63)]
    big = bpe_segment(docs, padded).collect()[0].sym_tokens
    assert big == ["xyz", "a", "b"]
