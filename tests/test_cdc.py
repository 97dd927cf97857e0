"""CDC operator tests — semantics mirror the reference's change-detection
suite (reference: tests/unit/test_change_detection.py)."""

import os
import threading
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import (
    WatermarkStore,
    advance_watermark,
    dedup_change_events,
    incremental_read,
    log_cdc_probe,
    timestamp_cdc_probe,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table


def test_watermark_roundtrip(tmp_path):
    store = WatermarkStore(str(tmp_path))
    ts = datetime(2024, 1, 5, 12, 30, 0)
    store.update("src1", "orders", ts)
    assert store.get("src1", "orders") == ts
    assert store.get("src1", "missing") is None


def test_watermark_min_rollup(tmp_path):
    store = WatermarkStore(str(tmp_path))
    store.update("s", "a", datetime(2024, 1, 3))
    store.update("s", "b", datetime(2024, 1, 1))
    assert store.min_watermark("s", ["a", "b", "c"]) == datetime(2024, 1, 1)


def test_watermark_concurrent_writes(tmp_path):
    # reference: test_change_detection.py:82-115 (5 threads)
    store = WatermarkStore(str(tmp_path))

    def write(i):
        store.update("s", f"t{i}", datetime(2024, 1, i + 1))

    threads = [threading.Thread(target=write, args=(i,)) for i in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(store.get("s", f"t{i}") is not None for i in range(5))


def test_watermark_torn_write_keeps_previous(tmp_path, monkeypatch):
    """A write that dies partway leaves the old watermark readable."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators import cdc

    store = WatermarkStore(str(tmp_path))
    before = datetime(2024, 1, 5, 12, 30, 0)
    store.update("s", "t", before)

    def torn(obj, fh):
        fh.write('{"last_processed_timestamp": "2024-')
        raise OSError("disk full")

    monkeypatch.setattr(cdc.json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        store.update("s", "t", datetime(2024, 2, 1))
    monkeypatch.undo()
    assert store.get("s", "t") == before
    assert os.listdir(tmp_path) == ["s__t.json"]  # no temp file left behind


def test_watermark_reset(tmp_path):
    store = WatermarkStore(str(tmp_path))
    store.update("s", "t", datetime(2024, 1, 2))
    store.reset("s", "t", datetime(2024, 1, 1))
    assert store.get("s", "t") == datetime(2024, 1, 1)
    store.reset("s", "t", None)
    assert store.get("s", "t") is None
    assert os.listdir(tmp_path) == []
    store.reset("s", "t", None)  # already absent: no error


def test_incremental_read_strictly_greater(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = advance_watermark(ev.limit(100), "ts")
    out = incremental_read(ev, "ts", w)
    assert out.where(F.col("ts") <= F.lit(w)).count() == 0


def test_timestamp_probe(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    row = timestamp_cdc_probe(ev, "ts", "2024-01-02 00:00:00").first()
    expected = ev.where(F.col("ts") > "2024-01-02 00:00:00").count()
    assert row["change_count"] == expected
    # empty slice → count 0, null max
    row0 = timestamp_cdc_probe(ev, "ts", "2999-01-01").first()
    assert row0["change_count"] == 0 and row0["max_ts"] is None


def test_log_probe_op_mapping(spark):
    changelog = spark.createDataFrame(
        [
            ("I", "2024-01-01 00:00:00", False),
            ("I", "2024-01-01 01:00:00", False),
            ("U", "2024-01-01 02:00:00", False),
            ("D", "2024-01-01 03:00:00", False),
            ("U", "2024-01-01 04:00:00", True),  # processed → excluded
        ],
        "operation string, change_timestamp string, processed boolean",
    ).withColumn("change_timestamp", F.col("change_timestamp").cast("timestamp"))
    out = {r["op_code"]: r for r in log_cdc_probe(changelog).collect()}
    assert out["I"]["change_count"] == 2
    assert out["I"]["change_type"] == "insert"
    assert out["U"]["change_count"] == 1
    assert out["D"]["change_type"] == "delete"


def test_dedup_within_window(spark):
    # same key within 60 min suppressed; different key/type kept
    # (reference: test_change_detection.py:128-153)
    rows = [
        ("s1", "orders", "insert", "2024-01-01 10:00:00", 1),
        ("s1", "orders", "insert", "2024-01-01 10:30:00", 2),  # dup in window
        ("s1", "orders", "insert", "2024-01-01 11:30:00", 3),  # next window
        ("s1", "orders", "update", "2024-01-01 10:05:00", 4),  # different type
        ("s1", "customer", "insert", "2024-01-01 10:05:00", 5),  # different table
    ]
    df = spark.createDataFrame(
        rows, "source_id string, table_name string, change_type string, ts string, n long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dedup_change_events(df, ["source_id", "table_name", "change_type"], "ts")
    assert out.count() == 4
    kept = {r["n"] for r in out.collect()}
    assert kept == {1, 3, 4, 5}  # earliest kept within each window


def test_advance_watermark(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    m = advance_watermark(ev, "ts")
    assert m == ev.agg(F.max("ts")).first()[0]
