"""Warehouse sink tests (S7 DataLoader / S8 SQL passthrough semantics)."""

import threading
import uuid

import pytest
from pyspark.sql import types as T

from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import WarehouseSink

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


@pytest.fixture()
def sink(spark):
    return WarehouseSink(spark, database=f"t_{uuid.uuid4().hex[:8]}")


def test_create_and_exists(spark, sink):
    t = "tbl_create"
    assert not sink.table_exists(t)
    assert sink.create_table(t, SCHEMA)
    assert sink.table_exists(t)
    assert sink.create_table(t, SCHEMA)  # idempotent


def test_load_append_and_overwrite(spark, sink):
    t = "tbl_load"
    df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    res = sink.load(df, t, mode="append")
    assert res.success and res.rows_loaded == 2
    sink.load(df, t, mode="append")
    assert spark.table(sink._qualified(t)).count() == 4
    sink.load(df, t, mode="overwrite")
    assert spark.table(sink._qualified(t)).count() == 2


def test_load_failure_reported_not_raised(spark, sink):
    t = "tbl_conflict"
    df = spark.createDataFrame([(1, "a")], SCHEMA)
    assert sink.load(df, t).success
    other = spark.createDataFrame([(1.5,)], "x double")
    res = other and sink.load(other, t, mode="error_if_exists")
    assert res.success is False
    assert res.error


def test_parameterized_sql_passthrough(spark, sink):
    t = "tbl_sql"
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "b")], SCHEMA)
    sink.load(df, t)
    rows = sink.execute_sql(
        f"SELECT COUNT(*) AS n FROM {sink._qualified(t)} WHERE v = :val",
        {"val": "b"},
    )
    assert rows[0]["n"] == 2


def test_overwrite_load_sweeps_stale_unregistered_location(spark, tmp_path):
    """A warehouse directory left by a previous session (in-memory catalog
    forgot the table) must not fail overwrite loads with
    LOCATION_ALREADY_EXISTS."""
    import os
    import uuid

    from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import WarehouseSink

    db = f"stale_{uuid.uuid4().hex[:8]}"
    sink = WarehouseSink(spark, database=db)
    db_uri = spark.catalog.getDatabase(db).locationUri.removeprefix("file:")
    os.makedirs(f"{db_uri}/orders_stale", exist_ok=True)
    with open(f"{db_uri}/orders_stale/part-stale.parquet", "w") as f:
        f.write("junk from a dead session")

    df = spark.range(7).withColumnRenamed("id", "o_orderkey")
    result = sink.load(df, "orders_stale", mode="overwrite")
    assert result.success, result.error
    assert result.rows_loaded == 7
    assert spark.table(f"{db}.orders_stale").count() == 7

    # append mode must NOT sweep anything — only overwrite may replace
    result2 = sink.load(df, "orders_stale", mode="append")
    assert result2.success
    assert spark.table(f"{db}.orders_stale").count() == 14


def test_load_partitioned_dynamic_overwrite(spark, sink):
    """Dynamic partition overwrite replaces ONLY the partitions present
    in the incoming batch — the incremental reload pattern. Static
    saveAsTable overwrite would wipe day=1 here."""
    df1 = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0)],
        "id long, day string, v double",
    )
    r1 = sink.load_partitioned(df1, "facts", ["day"])
    assert r1.success, r1.error

    # re-load day=2 only with corrected values
    df2 = spark.createDataFrame([(3, "d2", 99.0)], "id long, day string, v double")
    r2 = sink.load_partitioned(df2, "facts", ["day"])
    assert r2.success, r2.error

    got = {
        (r["id"], r["day"]): r["v"]
        for r in spark.table(f"{sink.database}.facts").collect()
    }
    assert got == {(1, "d1"): 10.0, (2, "d1"): 20.0, (3, "d2"): 99.0}

    # the conf must not leak out of the call
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"

    # partition pruning: a day-filtered read scans one partition
    plan = (
        spark.table(f"{sink.database}.facts")
        .where("day = 'd1'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(day" in plan


def test_load_clustered_disjoint_sorted_files(spark, sink, tmp_path):
    """Range-clustered layout: every output file owns a disjoint key
    range (parquet min/max then skips whole files for range predicates)
    and rows inside each file are sorted on the cluster key."""
    import glob as _glob

    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"),  # scrambled key
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "clustered")
    res = sink.load_clustered(df, out, ["k"], n_files=8)
    assert res.success

    files = sorted(_glob.glob(out + "/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        ks = pdf["k"].tolist()
        assert ks == sorted(ks), f"{f} not sorted within file"
        ranges.append((ks[0], ks[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges overlap — no skipping possible"
    # nothing lost in the re-layout
    assert spark.read.parquet(out).count() == 10_000


def _load_partitioned_into_existing(sink, df, tmp_path):
    """Second load of a partitioned table: the ``insertInto`` branch."""
    first = df.sparkSession.range(4).selectExpr(
        "id + 100 AS id", "CAST(id AS STRING) AS v", "id % 2 AS k")
    assert sink.load_partitioned(first, "tbl_part_existing", ["k"]).success
    return sink.load_partitioned(df, "tbl_part_existing", ["k"], mode="append")


#: every load path, as (sink, df, tmp_path) -> LoadResult
LOADS = {
    "load": lambda sink, df, tmp_path: sink.load(df, "tbl_plain", mode="overwrite"),
    "load_bucketed": lambda sink, df, tmp_path: sink.load_bucketed(df, "tbl_bkt", ["k"], 2),
    "load_partitioned_create": lambda sink, df, tmp_path: sink.load_partitioned(
        df, "tbl_part", ["k"]),
    "load_partitioned_insert_into": _load_partitioned_into_existing,
    "load_clustered": lambda sink, df, tmp_path: sink.load_clustered(
        df, str(tmp_path / "clustered"), ["k"], n_files=2),
}


@pytest.mark.parametrize("path", sorted(LOADS))
def test_load_path_counts_rows_exactly_in_one_pass(spark, sink, tmp_path, path):
    """Every load path reports the exact ``rows_loaded`` from an
    Observation on the write, and (except ``load_clustered``, whose
    range shuffle samples its input first) runs the input plan once.
    Proven with an accumulator bumped once per row flowing through the
    plan: one pass = n, a pre-write count would make it 2n."""
    n = 10
    acc = spark.sparkContext.accumulator(0)

    def tick(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    df = (
        spark.range(n)
        .selectExpr("id", "CAST(id AS STRING) AS v", "id % 2 AS k")
        .mapInPandas(tick, schema="id long, v string, k long")
    )
    res = LOADS[path](sink, df, tmp_path)
    assert res.success, res.error
    assert res.rows_loaded == n
    if path != "load_clustered":
        assert acc.value == n, f"{path} ran the input plan {acc.value / n:.1f}x"


@pytest.mark.parametrize("when", ["before_it_runs", "while_it_runs"])
def test_failed_load_reports_failure_without_hanging(spark, sink, when):
    """A failed write returns ``success=False`` without waiting for its
    count: the Observation of a write that failed before it ran (here,
    at analysis) never completes, so reading it would block."""
    from pyspark.sql import functions as F

    if when == "before_it_runs":
        assert sink.load(spark.range(3), "tbl_taken").success
        df, mode = spark.range(10), "error_if_exists"
    else:
        df = spark.range(10).select(
            F.when(F.col("id") == 5, F.raise_error(F.lit("boom")))
            .otherwise(F.col("id")).alias("id"))
        mode = "overwrite"
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(res=sink.load(df, "tbl_taken", mode=mode)), daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "load hung after a failed write"
    assert out["res"].success is False and out["res"].error
    assert out["res"].rows_loaded == 0


def test_load_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Live JDBC WRITE leg of S7 (the reference's DB-engine load):
    overwrite then append through the sink, read back over JDBC."""
    import pytest

    from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import (
        WarehouseSink,
    )

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, nm string"
    )
    sink = WarehouseSink(spark)
    res = sink.load_jdbc(
        df, url, "events_out", mode="overwrite", properties=props,
        column_types="NM VARCHAR(16)",
    )
    if not res.success and "derby" in (res.error or "").lower():
        pytest.skip(f"embedded Derby unavailable: {res.error}")
    assert res.success and res.rows_loaded == 3
    assert spark.read.jdbc(url, "events_out", properties=props).count() == 3

    res2 = sink.load_jdbc(df, url, "events_out", mode="append", properties=props)
    assert res2.success and res2.rows_loaded == 3
    assert spark.read.jdbc(url, "events_out", properties=props).count() == 6

    # report-don't-raise: a bad URL comes back as a failed LoadResult
    bad = sink.load_jdbc(df, "jdbc:derby:/nonexistent/\0bad", "t", properties=props)
    assert not bad.success and bad.error


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """ANALYZE must land row/size stats in the catalog, and the
    optimizer must SEE them (plan stats rowCount) once CBO is on."""
    from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import (
        WarehouseSink,
    )

    sink = WarehouseSink(spark)
    df = spark.range(123).selectExpr("id", "id % 7 AS grp")
    assert sink.load(df, "analyze_me", mode="overwrite").success
    stats = sink.analyze_table("analyze_me", columns=["grp"])
    assert stats["row_count"] == 123
    assert stats["size_bytes"] and stats["size_bytes"] > 0

    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        plan_stats = (
            spark.table("default.analyze_me")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert plan_stats.rowCount().get() == 123
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
