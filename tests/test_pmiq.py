"""PMI collocations (plans/pmiq.py): driver-style DuckDB parity plus
the association-law pins that make the statistic trustworthy."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

import test_oracle_parity as par
from data_pipeline_for_real_time_retail_analytics_spark.plans import pmiq

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def ddb():
    con = par.make_views(duckdb.connect(), ["documents"], SF_DIR)
    yield con
    con.close()


def test_parity(spark, ddb):
    spark_pdf = pmiq.QUERIES["pmi_collocations"](spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(pmiq.ORACLES["pmi_collocations"]).fetchdf()
    par.assert_frames_match(spark_pdf, duck_pdf, "pmi_collocations")


def _run_on(spark, docs):
    import data_pipeline_for_real_time_retail_analytics_spark.plans.pmiq as P
    # _docs lives in the corpusbase leaf module — patch the loader
    # where it is actually resolved
    import data_pipeline_for_real_time_retail_analytics_spark.plans.corpusbase as CB

    orig = CB.load_table
    try:
        CB.load_table = lambda spark, sf_dir, name: docs
        return P.q_pmi_collocations(spark, "ignored").collect()
    finally:
        CB.load_table = orig


def test_perfect_collocation_scores_ln_n_minus_ln_c(spark):
    """A pair that ALWAYS co-occurs (c12 == c1 == c2 == c) has
    PMI = ln(N/c) exactly — checked against the closed form on a
    hand-built corpus."""
    text = "alpha beta . " * 1  # 'alpha beta' always adjacent, fillers vary
    docs = spark.createDataFrame(
        [(i, f"alpha beta x{i} y{i}") for i in range(8)],
        "doc_id long, text string",
    )
    rows = _run_on(spark, docs)
    got = {(r.w1, r.w2): r for r in rows}
    assert ("alpha", "beta") in got
    r = got[("alpha", "beta")]
    # N = 3 bigrams/doc * 8 docs = 24; c12 = c1(alpha) = c2(beta) = 8
    want = round((math.log(8) + math.log(24) - math.log(8) - math.log(8))
                 * 1e6)
    assert r.c12 == 8 and r.pmi_micro == want


def test_rarer_exclusive_pair_outranks_frequent_pair(spark):
    """PMI orders by association strength, not raw frequency: the rare
    exclusive pair 'p q' (PMI = ln 7 here) must outrank the twice-as-
    frequent 'r s' (PMI = ln 3.5) — the property that distinguishes it
    from a plain bigram count."""
    docs = spark.createDataFrame(
        [(i, "p q") for i in range(5)]
        + [(100 + i, "r s t u") for i in range(10)],
        "doc_id long, text string",
    )
    got = {(r.w1, r.w2): r.pmi_micro for r in _run_on(spark, docs)}
    # N = 5*1 + 10*3 = 35; pq: 5*35/(5*5); rs: 10*35/(10*10)
    assert got[("p", "q")] == round(math.log(7) * 1e6)
    assert got[("r", "s")] == round(math.log(3.5) * 1e6)
    assert got[("p", "q")] > got[("r", "s")]


def test_support_floor_prunes_hapax_pairs(spark):
    """Pairs under MIN_COUNT never appear, however high their raw PMI
    (hapax pairs degenerate toward ln N)."""
    rows = _run_on(
        spark,
        spark.createDataFrame(
            [(1, "unique1 unique2")]
            + [(i, "common pair filler") for i in range(2, 12)],
            "doc_id long, text string",
        ),
    )
    pairs = {(r.w1, r.w2) for r in rows}
    assert ("unique1", "unique2") not in pairs
    assert ("common", "pair") in pairs
    assert all(r.c12 >= pmiq.MIN_COUNT for r in rows)
