"""Tests for the source layer: serializer round-trips, API source shape
dispatch + retry/backoff, factory registry, incremental pushdown.
Mirrors the reference's test strategy (SURVEY.md §5: test_data_sources /
test_extractors semantics) on Spark."""

import uuid

import pytest

from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.sources.registry import (
    APISource,
    DataSourceError,
    FileSource,
    JDBCSource,
    SourceRegistry,
    is_retryable_error,
    load_table,
    retry_with_backoff,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources.serializer import (
    DataSerializer,
    SerializationFormat,
)


# -- serializer (S5/S6) ------------------------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc", "xml"])
def test_serializer_roundtrip(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id long, name string, x double",
    )
    ser = DataSerializer(SerializationFormat(fmt))
    path = str(tmp_path / fmt)
    ser.serialize(df, path)
    back = ser.deserialize(spark, path, schema=df.schema)
    assert sorted(back.columns) == sorted(df.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_serializer_xml_nested_struct_roundtrip(spark, tmp_path):
    """XML is the one interchange format here whose natural shape is
    nested elements: a struct column must round-trip through nested
    tags with a custom row tag."""
    df = spark.createDataFrame(
        [(1, ("x", 10)), (2, ("y", 20))],
        "id long, payload struct<tag:string, qty:long>",
    )
    ser = DataSerializer(SerializationFormat.XML, xml_row_tag="record")
    path = str(tmp_path / "xmln")
    ser.serialize(df, path)  # default snappy codec — valid for xml too
    back = ser.deserialize(spark, path, schema=df.schema)

    def rows(d):
        return sorted((r.id, r.payload.tag, r.payload.qty) for r in d.collect())

    assert rows(back) == rows(df)

    # the row tag really is in the files (partner-system contract) —
    # checked on an uncompressed write so the bytes are readable text
    plain = DataSerializer(
        SerializationFormat.XML, compression=None, xml_row_tag="record"
    )
    plain_path = str(tmp_path / "xmlplain")
    plain.serialize(df, plain_path)
    import glob as _glob

    text = "".join(
        open(f).read()
        for f in _glob.glob(plain_path + "/part-*")
        if not f.endswith(".crc")
    )
    assert "<record>" in text


def test_serializer_avro_roundtrip_or_clear_error(spark, tmp_path):
    """Avro is an external Spark module; where deployed the round-trip must
    work, and where absent the serializer must raise the actionable
    RuntimeError rather than Spark's generic lookup failure."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    ser = DataSerializer(SerializationFormat.AVRO)
    path = str(tmp_path / "avro")
    try:
        ser.serialize(df, path)
    except RuntimeError as exc:
        assert "spark-avro" in str(exc)
        return
    back = ser.deserialize(spark, path, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_serializer_merge_schema_evolution(spark, tmp_path, fmt):
    """Partition/schema evolution: a directory whose later files gained a
    column reads as the superset schema with nulls backfilled when
    merge_schema is on (round-2 ask #7)."""
    ser = DataSerializer(SerializationFormat(fmt))
    path = str(tmp_path / fmt)
    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    ser.serialize(old, path)
    ser.serialize(new, path, mode="append")
    merged = ser.deserialize(spark, path, merge_schema=True)
    assert sorted(merged.columns) == ["id", "name", "score"]
    got = {r["id"]: r["score"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}


def test_serializer_merge_schema_rejected_for_row_formats():
    import pytest as _p

    with _p.raises(ValueError, match="merge_schema"):
        DataSerializer(SerializationFormat.JSON).deserialize(
            None, "/nonexistent", merge_schema=True
        )


def test_serializer_rejects_pickle():
    with pytest.raises(ValueError, match="pickle"):
        DataSerializer(SerializationFormat.PICKLE)


# -- retry / backoff (E2) ----------------------------------------------------


def test_retry_then_succeed():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise ConnectionError("connection reset")
        return "ok"

    slept = []
    assert retry_with_backoff(flaky, sleep=slept.append) == "ok"
    assert calls["n"] == 2
    assert slept == [1.0]  # delay * 2^0


def test_retries_exhausted_backoff_doubles():
    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise TimeoutError("timeout")

    slept = []
    with pytest.raises(TimeoutError):
        retry_with_backoff(always_fails, max_retries=3, sleep=slept.append)
    assert calls["n"] == 3
    assert slept == [1.0, 2.0]  # exponential: 1, 2


def test_non_retryable_raises_immediately():
    calls = {"n": 0}

    def bad_request():
        calls["n"] += 1
        raise ValueError("schema mismatch")

    with pytest.raises(ValueError):
        retry_with_backoff(bad_request, retryable=is_retryable_error)
    assert calls["n"] == 1


@pytest.mark.parametrize(
    "exc,expected",
    [
        (ConnectionError("x"), True),
        (TimeoutError("x"), True),
        (RuntimeError("HTTP 429 too many requests"), True),
        (RuntimeError("rate limit exceeded"), True),
        (ValueError("bad schema"), False),
    ],
)
def test_retryable_classification(exc, expected):
    assert is_retryable_error(exc) is expected


# -- API source (S3/S4) ------------------------------------------------------


def _api(fetch, **kw):
    return APISource(source_id="api1", endpoint="/users", fetch_fn=fetch, **kw)


def test_api_list_payload(spark):
    src = _api(lambda url, p: [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    assert src.extract(spark).count() == 2


def test_api_data_key_payload(spark):
    src = _api(lambda url, p: {"data": [{"id": 1}], "meta": "x"})
    assert src.extract(spark).count() == 1


def test_api_scalar_dict_payload(spark):
    src = _api(lambda url, p: {"id": 7, "v": "z"})
    rows = src.extract(spark).collect()
    assert len(rows) == 1 and rows[0]["id"] == 7


def test_api_since_param_passed(spark):
    seen = {}

    def fetch(url, params):
        seen.update(params)
        return [{"id": 1}]

    _api(fetch).extract(spark, since="2024-01-01T00:00:00")
    assert seen["since"] == "2024-01-01T00:00:00"


def test_api_empty_needs_schema(spark):
    src = _api(lambda url, p: [])
    with pytest.raises(DataSourceError):
        src.extract(spark)
    assert src.extract(spark, schema="id long").count() == 0


# -- registry ---------------------------------------------------------------


def test_registry_create_and_extend():
    reg = SourceRegistry()
    src = reg.create_source("file", "s1", path="/tmp/x.parquet")
    assert isinstance(src, FileSource)

    class Custom:
        def __init__(self, source_id, **kw):
            self.source_id = source_id

    reg.register_source_type("custom", Custom)
    assert isinstance(reg.create_source("custom", "c1"), Custom)
    with pytest.raises(DataSourceError):
        reg.create_source("nope", "x")


# -- incremental pushdown (S1) ----------------------------------------------


def test_file_source_incremental_pushdown(spark, sf_dir):
    src = FileSource(source_id="orders", path=f"{sf_dir}/orders.parquet")
    df = src.extract(
        spark,
        timestamp_column="o_orderdate",
        watermark="1998-01-01",
        columns=["o_orderkey", "o_orderdate"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderdate" in plan
    full = src.read(spark).where(F.col("o_orderdate") > F.lit("1998-01-01")).count()
    assert df.count() == full


def _jobs_started(spark, fn):
    """Spark jobs started while ``fn()`` runs (counted by job group)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_file_source_reuses_inferred_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(path)
    src = FileSource(source_id="t", path=path)
    assert _jobs_started(spark, lambda: src.read(spark)) >= 1  # inference
    assert _jobs_started(spark, lambda: src.read(spark)) == 0
    assert src.read(spark).columns == ["id", "v"]
    assert src.extract(spark, timestamp_column="v", watermark=10).count() == 4


def test_file_source_merge_schema_infers_every_read(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(f"{path}/part=1")
    src = FileSource(source_id="t", path=path, options={"mergeSchema": "true"})
    src.read(spark)
    spark.range(3).selectExpr("id", "'x' AS extra").write.parquet(f"{path}/part=2")
    assert "extra" in src.read(spark).columns  # the union widened
    assert _jobs_started(spark, lambda: src.read(spark)) >= 1  # inferred again


def test_load_table_reuses_schema_of_an_unchanged_path(spark, tmp_path):
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(
        str(tmp_path / "t.parquet")
    )
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "v"]
    assert load_table(spark, str(tmp_path), "t").where("v > 4").count() == 2


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_load_table_infers_again_after_a_rewrite(spark, tmp_path, writer):
    """A table rewritten at the same path is read with its new columns,
    whether the rewrite adds a column or drops one. A pyarrow rewrite
    keeps the one file name, so only its length and mtime change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")

    def write(**cols):
        if writer == "spark":
            rows = list(zip(*cols.values()))
            schema = ", ".join(f"{c} long" for c in cols)
            spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
        else:
            pq.write_table(pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()}), path)

    write(id=[1, 2], v=[10, 20])
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "v"]
    write(id=[1, 2, 3], v=[10, 20, 30], w=[7, 8, 9])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "v", "w"]
    assert sorted(r["w"] for r in df.collect()) == [7, 8, 9]
    write(id=[4])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id"]
    assert [r["id"] for r in df.collect()] == [4]


def test_load_table_events_reuses_schema_and_converts_nanos(spark, tmp_path):
    """``events.ts`` written as TIMESTAMP(NANOS) still reads as
    microsecond timestamps when the (long) schema is reused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_704_067_200 * 10**9 + 123_456_789  # 2024-01-01 00:00:00.123456789 UTC
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([ns], pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    load_table(spark, str(tmp_path), "events")
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.select(F.unix_micros("ts")).first()[0] == ns // 1000


def test_jdbc_reader_options_watermark_and_partitioning():
    src = JDBCSource(
        source_id="db1",
        url="jdbc:postgresql://host/db",
        table="orders",
        num_partitions=8,
        partition_column="o_orderkey",
        lower_bound="0",
        upper_bound="100000",
    )
    opts = src.reader_options("o_orderdate", "2024-01-01")
    assert "WHERE o_orderdate > '2024-01-01'" in opts["dbtable"]
    assert opts["numPartitions"] == "8"
    assert opts["partitionColumn"] == "o_orderkey"


def test_jdbc_live_roundtrip_embedded_derby(spark, tmp_path):
    """Live JDBC leg of S1/S2 against embedded Apache Derby (ships in
    Spark's jars): write a table through spark JDBC, then exercise
    JDBCSource full scan, watermark-pushdown incremental scan, and
    bounded partitioned parallel reads. Column names are uppercase
    because the generated subquery uses unquoted identifiers, which
    Derby resolves case-insensitively to its catalog form."""
    import pytest

    from data_pipeline_for_real_time_retail_analytics_spark.sources.registry import JDBCSource

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    rows = [(i, f"2024-01-0{1 + i % 5} 10:00:00", f"o'name{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, ts string, nm string").selectExpr(
        "id AS ID", "CAST(ts AS timestamp) AS TS", "nm AS NM"
    )
    try:
        # NM must be VARCHAR, not Spark's default CLOB mapping — Derby
        # can't compare CLOB against a string literal
        df.write.jdbc(
            url, "users", mode="overwrite",
            properties={**props, "createTableColumnTypes": "NM VARCHAR(32)"},
        )
    except Exception as exc:  # pragma: no cover - driver missing in env
        pytest.skip(f"embedded Derby unavailable: {exc}")

    src = JDBCSource(
        source_id="derby", url=url, table="users", properties=props,
        num_partitions=4, partition_column="ID", lower_bound="0", upper_bound="10",
    )
    full = src.extract(spark)
    assert full.count() == 10
    assert full.rdd.getNumPartitions() == 4  # bounded parallel read

    incr = src.extract(spark, timestamp_column="TS", watermark="2024-01-03 00:00:00")
    got = sorted(r["ID"] for r in incr.collect())
    want = sorted(i for i in range(10) if 1 + i % 5 >= 3)  # strictly after Jan 3 00:00
    assert got == want
    # the default path pushes the predicate through Spark's JDBC filter
    # compilation (remote WHERE with dialect escaping), not a local
    # filter over a full scan and not a hand-assembled subquery
    plan = incr._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(TS" in plan
    # legacy dbtable-subquery path agrees row-for-row
    legacy = src.extract(
        spark, timestamp_column="TS", watermark="2024-01-03 00:00:00",
        push_via_filter=False,
    )
    assert sorted(r["ID"] for r in legacy.collect()) == want
    # a backslash watermark is fine on the filter path (no SQL string is
    # ever assembled — the legacy path must still reject it)
    assert src.extract(
        spark, timestamp_column="NM", watermark="a\\"
    ).count() == 10  # every name sorts after 'a\'
    with pytest.raises(ValueError):
        src.extract(spark, timestamp_column="NM", watermark="a\\",
                    push_via_filter=False)
    # unknown column fails fast with the column inventory
    with pytest.raises(ValueError, match="not in"):
        src.extract(spark, timestamp_column="NOPE", watermark="x")

    # adversarial watermark: an embedded quote is doubled into the pushed
    # subquery so it stays a single string literal instead of terminating
    # it (the r02→r03 interpolation bug); execution with a garbage
    # watermark then fails only at the DB's own timestamp cast, never by
    # injected SQL
    evil = src.reader_options("TS", "2024-01-03' OR '1'='1")
    assert "WHERE TS > '2024-01-03'' OR ''1''=''1'" in evil["dbtable"]

    # live leg: a quote INSIDE a legitimate watermark round-trips through
    # Derby (varchar watermark "o'name4" → strictly-greater names 5..9)
    quoted = src.extract(spark, timestamp_column="NM", watermark="o'name4")
    assert sorted(r["ID"] for r in quoted.collect()) == [5, 6, 7, 8, 9]

    # identifier injection through the column name is rejected outright
    import pytest as _pytest

    with _pytest.raises(ValueError):
        src.reader_options("TS > '0' --", "2024-01-03 00:00:00")

    # backslash watermarks are rejected: quote-doubling alone is not
    # enough on backslash-escaping dialects (MySQL default sql_mode),
    # where `abc\` or `\'` would still break out of the literal
    for evil_wm in ("abc\\", "2024-01-03\\'", "\\"):
        with _pytest.raises(ValueError, match="backslash"):
            src.reader_options("TS", evil_wm)


def test_serializer_json_multiline(spark, tmp_path):
    """Pretty-printed array-of-objects JSON (the REST-export shape)
    reads via multiline=True; the option is JSON-only."""
    import pytest

    p = tmp_path / "doc.json"
    p.write_text('[\n  {"id": 1, "nm": "a"},\n  {"id": 2, "nm": "b"}\n]\n')
    ser = DataSerializer(SerializationFormat.JSON)
    back = ser.deserialize(spark, str(p), multiline=True)
    assert sorted((r.id, r.nm) for r in back.collect()) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="JSON"):
        DataSerializer(SerializationFormat.PARQUET).deserialize(
            spark, str(p), multiline=True
        )
