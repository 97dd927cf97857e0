"""Engine facade tests (SURVEY.md §3 EP3: register -> detect -> extract ->
validate -> load as the library-path public API)."""

import os
import uuid
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from data_pipeline_for_real_time_retail_analytics_spark.engine import Engine
from datetime import datetime, timezone

from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import (
    ChangeType,
    WatermarkStore,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.detection import (
    ChangeEvent,
    TimestampChangeDetector,
)
from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
    Severity,
    ValidationRule,
)
from data_pipeline_for_real_time_retail_analytics_spark.schemas import DataType, SchemaDefinition
from data_pipeline_for_real_time_retail_analytics_spark.sources.registry import FileSource


@pytest.fixture()
def engine(spark, sf_dir):
    schema = SchemaDefinition(
        "orders",
        columns={"o_orderkey": DataType.INTEGER},
        required_columns=["o_orderkey", "o_custkey"],
        unique_columns=["o_orderkey"],
        primary_key=["o_orderkey"],
    )
    rules = [
        ValidationRule("status_allowed", "allowed_values", "o_orderstatus",
                       Severity.ERROR, {"values": ["F", "O", "P"]}),
    ]
    eng = Engine(spark, schemas={"orders": schema}, rules=rules,
                 database=f"eng_{uuid.uuid4().hex[:8]}")
    eng.register_source(
        FileSource(source_id="orders_src", path=f"{sf_dir}/orders.parquet"),
        probe=lambda: [ChangeEvent("orders_src", "orders", ChangeType.UPDATE,
                                   datetime.now(timezone.utc), 1)],
    )
    return eng


def test_engine_end_to_end(spark, engine):
    events = engine.detect()
    assert engine.source_status()["orders_src"]["healthy"]
    assert len(events["orders_src"]) == 1

    report, result = engine.run_once("orders_src", "orders", mode="overwrite")
    assert report.is_valid and report.data_quality_score == 1.0
    assert result is not None and result.success
    assert spark.table(result.target_table).count() == result.rows_loaded > 0


def test_engine_skips_when_no_changes(spark, engine, sf_dir):
    quiet = Engine(spark, database=f"eng_{uuid.uuid4().hex[:8]}")
    quiet.register_source(
        FileSource(source_id="quiet_src", path=f"{sf_dir}/orders.parquet"),
        probe=lambda: [],  # probe reports nothing new
    )
    report, result = quiet.run_once("quiet_src", "orders")
    assert result is None  # skip-if-no-changes: nothing loaded
    assert report.is_valid


def test_engine_extract_retries_through_backoff(spark, sf_dir):
    attempts = {"n": 0}

    class Flaky:
        source_id = "flaky"

        def extract(self, spark_, **kw):
            attempts["n"] += 1
            if attempts["n"] < 2:
                raise ConnectionError("transient")
            return spark_.range(3)

    eng = Engine(spark, retry_delay=0.0)
    eng.register_source(Flaky())
    assert eng.extract("flaky").count() == 3
    assert attempts["n"] == 2


def test_engine_detect_failure_is_contained(spark, sf_dir):
    eng = Engine(spark)
    eng.register_source(
        FileSource(source_id="bad", path=f"{sf_dir}/orders.parquet"),
        probe=lambda: (_ for _ in ()).throw(RuntimeError("probe down")),
    )
    events = eng.detect()
    assert events["bad"] == []
    st = eng.source_status()["bad"]
    assert not st["healthy"] and "probe down" in st["last_error"]


# -- load counting and failure paths -----------------------------------------


def test_engine_load_counts_rows_with_observation(spark):
    eng = Engine(spark, database=f"eng_{uuid.uuid4().hex[:8]}")
    df = spark.range(100).withColumnRenamed("id", "k")
    first = eng.load(df, "t", mode="overwrite")
    assert first.success and first.rows_loaded == 100
    assert spark.table(first.target_table).count() == first.rows_loaded
    second = eng.load(df.where("k < 7"), "t")  # the batch's rows, not the table's
    assert second.success and second.rows_loaded == 7
    assert spark.table(second.target_table).count() == 107
    empty = eng.load(df.where("k < 0"), "t")
    assert empty.success and empty.rows_loaded == 0


CDC_SOURCE, CDC_TABLE = "cdc_src", "changes"


@pytest.fixture()
def cdc(spark, tmp_path):
    """A landing directory drained by timestamp-probed ``run_once`` cycles,
    the way a CDC loop drives the engine."""
    landing = tmp_path / "landing"
    landing.mkdir()
    watermarks = str(tmp_path / "watermarks")
    database = f"eng_{uuid.uuid4().hex[:8]}"
    rules = [ValidationRule("status_known", "allowed_values", "status",
                            Severity.ERROR, {"values": ["open", "done"]})]

    def engine():
        """Engine, source, detector and store over the directories: what a
        restarted process builds."""
        store = WatermarkStore(watermarks)
        source = FileSource(CDC_SOURCE, str(landing))
        detector = TimestampChangeDetector(store, ts_col="change_ts")
        eng = Engine(spark, rules=rules, database=database)
        eng.register_source(
            source, probe=lambda: detector.detect(CDC_SOURCE, CDC_TABLE, source.read(spark)))
        return eng

    def land(k, rows):
        staged = str(tmp_path / f"staged-{k}")
        (spark.createDataFrame(rows, "order_id long, status string, change_ts timestamp")
         .coalesce(1).write.parquet(staged))
        [part] = [f for f in os.listdir(staged) if f.endswith(".parquet")]
        os.rename(os.path.join(staged, part), str(landing / f"changes-{k}.parquet"))

    ns = SimpleNamespace(engine=engine(), store=WatermarkStore(watermarks), land=land,
                         restart=engine, table=f"{database}.{CDC_TABLE}")

    def cycle(eng=None, **kw):
        return (eng or ns.engine).run_once(
            CDC_SOURCE, CDC_TABLE, timestamp_column="change_ts",
            watermark=ns.store.get(CDC_SOURCE, CDC_TABLE), **kw)

    ns.cycle = cycle
    return ns


def _ts(minute):
    return datetime(2024, 1, 1, 10, minute)


def test_run_once_failed_load_keeps_batch(spark, cdc):
    # a target table whose columns do not match: the append fails
    cdc.engine._sink.create_table(CDC_TABLE, T.StructType([T.StructField("x", T.StringType())]))
    cdc.land(0, [(1, "open", _ts(0)), (2, "open", _ts(1)), (3, "done", _ts(2))])
    report, result = cdc.cycle()
    assert report.total_rows == 3
    assert result is not None and not result.success
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) is None  # still no watermark

    spark.sql(f"DROP TABLE {cdc.table}")  # the target is repaired
    report, result = cdc.cycle()
    assert result.success and result.rows_loaded == 3
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(2)
    assert cdc.cycle()[1] is None  # nothing new: skipped
    assert spark.table(cdc.table).count() == 3  # loaded once


def test_run_once_gate_failure_keeps_batch(spark, cdc):
    cdc.land(0, [(1, "open", _ts(0)), (2, "done", _ts(1))])
    assert cdc.cycle()[1].rows_loaded == 2
    cdc.land(1, [(3, "open", _ts(2)), (4, "lost", _ts(3)), (5, "done", _ts(4))])
    with pytest.raises(ValueError, match="quality gate failed"):
        cdc.cycle(fail_on_gate=True)
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(1)

    # without fail_on_gate the batch loads with the bad row filtered out
    report, result = cdc.cycle()
    assert report.total_rows == 3 and not report.is_valid
    assert result.success and result.rows_loaded == 2
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(4)
    got = sorted(r.order_id for r in spark.table(cdc.table).collect())
    assert got == [1, 2, 3, 5]


def test_run_once_runs_only_its_own_probe(spark, tmp_path):
    """``run_once("a")`` must not run source b's probe: a detection whose
    events are dropped must not cost b its batch."""
    store = WatermarkStore(str(tmp_path))
    detector = TimestampChangeDetector(store, ts_col="change_ts")
    eng = Engine(spark, database=f"eng_{uuid.uuid4().hex[:8]}")
    calls = {"a": 0, "b": 0}
    batches = {"a": [(1, _ts(0))], "b": [(2, _ts(1)), (3, _ts(2))]}
    for sid, rows in batches.items():
        df = spark.createDataFrame(rows, "order_id long, change_ts timestamp")

        def probe(sid=sid, df=df):
            calls[sid] += 1
            return detector.detect(sid, "t", df)

        source = SimpleNamespace(source_id=sid, extract=lambda spark_, df=df, **kw: df)
        eng.register_source(source, probe=probe)

    assert eng.run_once("a", "t", target_table="a_out")[1].rows_loaded == 1
    assert calls == {"a": 1, "b": 0}
    result = eng.run_once("b", "t", target_table="b_out")[1]
    assert result is not None and result.success and result.rows_loaded == 2
    assert store.get("b", "t") == _ts(2)


# -- crash windows: a process killed between two steps -----------------------


class Killed(BaseException):
    """Stands in for the process dying; carries the watermark on disk at
    that moment, which is what a restarted process finds (a real kill
    runs no handler that could put it back)."""


def _dies_after(store, fn=None):
    def call(*args, **kwargs):
        if fn is not None:
            fn(*args, **kwargs)
        raise Killed(store.get(CDC_SOURCE, CDC_TABLE))

    return call


@pytest.mark.parametrize("step", ["extract", "load"])
def test_kill_before_the_load_lands_keeps_watermark(spark, cdc, monkeypatch, step):
    """Killed in the extract, or in the load before it wrote: the stored
    watermark is unchanged, and a restarted engine loads the batch once."""
    cdc.land(0, [(1, "open", _ts(0)), (2, "done", _ts(1))])
    assert cdc.cycle()[1].rows_loaded == 2
    cdc.land(1, [(3, "open", _ts(2)), (4, "done", _ts(3))])
    target = cdc.engine if step == "extract" else cdc.engine._sink
    monkeypatch.setattr(target, step, _dies_after(cdc.store))
    with pytest.raises(Killed) as killed:
        cdc.cycle()
    assert killed.value.args[0] == _ts(1)
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(1)

    restarted = cdc.restart()
    result = cdc.cycle(restarted)[1]
    assert result.success and result.rows_loaded == 2
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(3)
    assert cdc.cycle(restarted)[1] is None  # nothing new: skipped
    got = sorted(r.order_id for r in spark.table(cdc.table).collect())
    assert got == [1, 2, 3, 4]  # every row exactly once


def test_kill_between_load_and_commit_reloads_batch(spark, cdc, monkeypatch):
    """At-least-once: killed after the load wrote but before the commit,
    the watermark still sits before the batch, so the restarted engine
    loads it again."""
    cdc.land(0, [(1, "open", _ts(0)), (2, "done", _ts(1))])
    monkeypatch.setattr(cdc.engine._sink, "load",
                        _dies_after(cdc.store, cdc.engine._sink.load))
    with pytest.raises(Killed) as killed:
        cdc.cycle()
    assert killed.value.args[0] is None  # not committed
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) is None
    assert spark.table(cdc.table).count() == 2  # but the batch landed

    restarted = cdc.restart()
    assert cdc.cycle(restarted)[1].rows_loaded == 2
    assert cdc.store.get(CDC_SOURCE, CDC_TABLE) == _ts(1)
    assert cdc.cycle(restarted)[1] is None
    got = sorted(r.order_id for r in spark.table(cdc.table).collect())
    assert got == [1, 1, 2, 2]  # reloaded, not lost
