"""Stream-stream LEFT-OUTER interval join (plans/streamq3.py):
driver-style DuckDB parity from the two-phase AvailableNow execution,
plus the outer-semantics pins the inner query cannot express."""

import os

import duckdb
import pytest

import test_oracle_parity as par
from data_pipeline_for_real_time_retail_analytics_spark.plans import streamq3

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def ddb():
    con = par.make_views(duckdb.connect(), ["events"], SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def result(spark):
    return streamq3.QUERIES["stream_click_purchases_outer"](
        spark, SF_DIR
    ).toPandas()


def test_parity(result, ddb):
    duck_pdf = ddb.execute(
        streamq3.ORACLES["stream_click_purchases_outer"]
    ).fetchdf()
    par.assert_frames_match(result, duck_pdf, "stream_click_purchases_outer")


def test_outer_semantics_non_vacuous(result):
    """The whole point of the left-outer flavor: every click appears
    (matched or not), unmatched ones exactly once with NULL purchase
    columns, and no click is dropped relative to the inner join."""
    unmatched = result[result["purchase_id"].isnull()]
    matched = result[result["purchase_id"].notnull()]
    assert len(unmatched) > 0, "fixture corpus must contain unmatched clicks"
    assert len(matched) > 0, "fixture corpus must contain inner matches"
    # unmatched clicks emit exactly one NULL-completion row
    assert unmatched["click_id"].is_unique
    # a click is either matched or unmatched, never both
    assert not set(unmatched["click_id"]) & set(matched["click_id"])
    # no sentinel traffic leaks into the result
    assert (result["user_id"] >= 0).all()


@pytest.mark.parametrize(
    "rows, ok",
    [
        ([10, 0], True),  # one data batch, then the no-data flush
        ([10], True),
        ([6, 4, 0], False),  # the staged files split over two batches
        ([9, 0], False),  # a staged row never read
        ([0], False),
    ],
)
def test_single_data_batch_check(rows, ok):
    """The drive's progress must show exactly one batch with input, and
    it must hold every staged row (here 10, sentinels included)."""
    progress = [{"batchId": i, "numInputRows": n} for i, n in enumerate(rows)]
    if ok:
        streamq3._check_one_data_batch(progress, 10)
    else:
        with pytest.raises(RuntimeError, match="exactly one data batch"):
            streamq3._check_one_data_batch(progress, 10)
