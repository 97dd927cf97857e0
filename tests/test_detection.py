"""Tests for change-detection strategies and multi-source fan-out
(SURVEY.md §2.2 C3/C6-C9; mirrors reference test_change_detection.py
semantics: detect → watermark advance, polling gate, per-source health)."""

import datetime as dt

from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import (
    ChangeType,
    WatermarkStore,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.detection import (
    LogChangeDetector,
    MultiSourceChangeDetector,
    PollingChangeDetector,
    TimestampChangeDetector,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, v long")


def test_timestamp_detector_advances_watermark(spark, tmp_path):
    store = WatermarkStore(str(tmp_path))
    det = TimestampChangeDetector(store, ts_col="ts")
    df = _events(
        spark,
        [
            (dt.datetime(2024, 1, 1, 10, 0), 1),
            (dt.datetime(2024, 1, 1, 11, 0), 2),
        ],
    )
    events = det.detect("s1", "t1", df)
    assert len(events) == 1
    assert events[0].affected_rows == 2
    assert events[0].change_type is ChangeType.UPDATE
    assert store.get("s1", "t1") == dt.datetime(2024, 1, 1, 11, 0)
    # second pass: nothing strictly after the new watermark
    assert det.detect("s1", "t1", df) == []


def test_log_detector_groups_by_op(spark, tmp_path):
    store = WatermarkStore(str(tmp_path))
    det = LogChangeDetector(store)
    changelog = spark.createDataFrame(
        [
            ("I", dt.datetime(2024, 1, 1, 10, 0)),
            ("I", dt.datetime(2024, 1, 1, 10, 5)),
            ("D", dt.datetime(2024, 1, 1, 10, 2)),
        ],
        "operation string, change_timestamp timestamp",
    )
    events = det.detect("s1", "t1", changelog)
    by_type = {e.change_type: e for e in events}
    assert by_type[ChangeType.INSERT].affected_rows == 2
    assert by_type[ChangeType.DELETE].affected_rows == 1
    assert store.get("s1", "t1") == dt.datetime(2024, 1, 1, 10, 5)


def test_timestamp_detector_undo_restores_watermark(spark, tmp_path):
    store = WatermarkStore(str(tmp_path))
    det = TimestampChangeDetector(store, ts_col="ts")
    first = _events(spark, [(dt.datetime(2024, 1, 1, 10, 0), 1)])
    [event] = det.detect("s1", "t1", first)
    event.undo()  # there was no watermark before: no file at all
    assert store.get("s1", "t1") is None
    assert list(tmp_path.iterdir()) == []

    det.detect("s1", "t1", first)
    more = _events(spark, [(dt.datetime(2024, 1, 1, 10, 0), 1),
                           (dt.datetime(2024, 1, 1, 12, 0), 2)])
    [event] = det.detect("s1", "t1", more)
    assert store.get("s1", "t1") == dt.datetime(2024, 1, 1, 12, 0)
    event.undo()
    assert store.get("s1", "t1") == dt.datetime(2024, 1, 1, 10, 0)
    # the undone batch is reported again
    assert [e.affected_rows for e in det.detect("s1", "t1", more)] == [1]


def test_log_detector_undo_shared_by_events(spark, tmp_path):
    store = WatermarkStore(str(tmp_path))
    store.update("s1", "t1", dt.datetime(2024, 1, 1, 9, 0))
    changelog = spark.createDataFrame(
        [("I", dt.datetime(2024, 1, 1, 10, 0)), ("D", dt.datetime(2024, 1, 1, 10, 2))],
        "operation string, change_timestamp timestamp",
    )
    events = LogChangeDetector(store).detect("s1", "t1", changelog)
    assert len(events) == 2 and events[0].undo is events[1].undo
    events[0].undo()
    assert store.get("s1", "t1") == dt.datetime(2024, 1, 1, 9, 0)


def test_polling_detector_respects_interval():
    clock = {"t": 0.0}
    polls = {"n": 0}

    def poll(_since):
        polls["n"] += 1
        return 3

    det = PollingChangeDetector(poll, poll_interval=300, clock=lambda: clock["t"])
    assert len(det.detect("s1", "t1")) == 1  # first poll fires
    clock["t"] = 100.0
    assert det.detect("s1", "t1") == []  # gated: too soon
    clock["t"] = 301.0
    assert len(det.detect("s1", "t1")) == 1
    assert polls["n"] == 2


def test_polling_detector_empty_response_no_event():
    det = PollingChangeDetector(lambda _since: 0, poll_interval=0, clock=lambda: 0.0)
    assert det.detect("s1", "t1") == []


def test_multi_source_fanout_and_health(spark, tmp_path):
    store = WatermarkStore(str(tmp_path))
    ts_det = TimestampChangeDetector(store)
    df = _events(spark, [(dt.datetime(2024, 1, 1, 10, 0), 1)])

    multi = MultiSourceChangeDetector()
    multi.register_source("good", lambda: ts_det.detect("good", "t", df))

    def broken():
        raise ConnectionError("db down")

    multi.register_source("bad", broken)

    out = multi.detect_all_changes()
    assert len(out["good"]) == 1
    assert out["bad"] == []  # swallow-and-continue like the reference
    status = multi.get_source_status()
    assert status["good"]["healthy"] is True
    assert status["bad"]["healthy"] is False
    assert "db down" in status["bad"]["last_error"]
    assert multi.healthy() is False


def test_file_sensor_detects_new_modified_deleted(tmp_path):
    import os
    import time

    from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import ChangeType
    from data_pipeline_for_real_time_retail_analytics_spark.operators.filesensor import (
        FileSystemChangeSensor,
    )

    d = tmp_path / "landing"
    d.mkdir()
    sensor = FileSystemChangeSensor(str(d), glob="*.csv")

    (d / "a.csv").write_text("1,2\n")
    (d / "skip.txt").write_text("ignored")
    events = sensor.detect_changes()
    assert [e.change_type for e in events] == [ChangeType.INSERT]
    assert events[0].table_name.endswith("a.csv")

    assert sensor.detect_changes() == []  # steady state

    time.sleep(0.01)
    (d / "a.csv").write_text("1,2\n3,4\n")  # size+mtime change
    os.utime(d / "a.csv")
    (d / "b.csv").write_text("x\n")
    kinds = {e.table_name.split("/")[-1]: e.change_type for e in sensor.detect_changes()}
    assert kinds == {"a.csv": ChangeType.UPDATE, "b.csv": ChangeType.INSERT}

    (d / "b.csv").unlink()
    events = sensor.detect_changes()
    assert [e.change_type for e in events] == [ChangeType.DELETE]


def test_file_sensor_min_age_guard(tmp_path):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.filesensor import (
        FileSystemChangeSensor,
    )

    d = tmp_path / "landing2"
    d.mkdir()
    clock = {"t": 1000.0}
    sensor = FileSystemChangeSensor(
        str(d), glob="*", min_file_age_seconds=60, clock=lambda: clock["t"]
    )
    f = d / "inflight.parquet"
    f.write_text("partial")
    import os
    os.utime(f, (clock["t"] - 10, clock["t"] - 10))  # 10s old < 60s guard
    assert sensor.detect_changes() == []  # too fresh
    clock["t"] += 120
    assert len(sensor.detect_changes()) == 1  # aged past the guard


def test_file_sensor_tracked_file_mid_rewrite_not_deleted(tmp_path):
    """A tracked file being rewritten (mtime inside the min-age guard)
    still exists: no DELETE may fire, and when the write settles the
    sensor must emit UPDATE, not INSERT."""
    import os

    from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import ChangeType
    from data_pipeline_for_real_time_retail_analytics_spark.operators.filesensor import (
        FileSystemChangeSensor,
    )

    d = tmp_path / "landing3"
    d.mkdir()
    clock = {"t": 1000.0}
    sensor = FileSystemChangeSensor(
        str(d), glob="*", min_file_age_seconds=60, clock=lambda: clock["t"]
    )
    f = d / "data.parquet"
    f.write_text("v1")
    os.utime(f, (clock["t"] - 120, clock["t"] - 120))
    assert [e.change_type for e in sensor.detect_changes()] == [ChangeType.INSERT]

    # rewrite in-flight: mtime now (inside the guard)
    f.write_text("v2-longer")
    os.utime(f, (clock["t"], clock["t"]))
    assert sensor.detect_changes() == []  # no spurious DELETE

    clock["t"] += 120  # write settles past the guard
    events = sensor.detect_changes()
    assert [e.change_type for e in events] == [ChangeType.UPDATE]
