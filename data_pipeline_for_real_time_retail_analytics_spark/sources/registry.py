"""Pluggable data sources (scans S1-S4) and the source factory registry.

The reference exposes a ``DataSource`` ABC with database / API concretions
plus a factory keyed by source type (reference: src/interfaces/base.py:72-97,
src/ingestion/data_sources.py:44,288,489-517). Here each source produces a
lazy ``pyspark.sql.DataFrame``; incremental extraction is a *pushed-down*
watermark predicate (``WHERE ts > watermark``), which Catalyst turns into a
parquet row-group / JDBC-level filter — at 100 TB on date-partitioned data
this is partition pruning, not a scan-then-filter.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLE_SCHEMAS


class DataSourceError(Exception):
    """Raised when a source cannot connect or extract."""


# ---------------------------------------------------------------------------
# The one schema rule for file reads: declared, else inferred once.
# ---------------------------------------------------------------------------

#: path -> (version, schema) kept by ``read_reusing_schema``
SchemaStore = dict[str, tuple[Any, T.StructType]]


def read_reusing_schema(
    reader: DataFrameReader,
    path: str,
    declared: T.StructType | None = None,
    store: SchemaStore | None = None,
    version: Any = None,
) -> DataFrame:
    """Load ``path`` with ``declared`` when there is one. Otherwise load
    it with the schema ``store`` holds for ``path`` at ``version``; when
    it holds none (or one for another version), infer — for parquet one
    Spark job reading a footer — and store the result under ``version``.
    With ``store=None`` every call infers.

    A stored schema is what inference would find again as long as the
    files behind ``path`` are the ones it was inferred from; ``version``
    names those files for a caller that cannot promise they stay put.
    """
    if declared is None and store is not None:
        held = store.get(path)
        if held is not None and held[0] == version:
            declared = held[1]
    if declared is not None:
        return reader.schema(declared).load(path)
    df = reader.load(path)
    if store is not None:
        store[path] = (version, df.schema)
    return df


# ---------------------------------------------------------------------------
# File source — the workhorse. parquet / csv / json over a path.
# ---------------------------------------------------------------------------


@dataclass
class FileSource:
    """Columnar file scan (parquet default) with optional incremental filter.

    Spark-first re-expression of the reference's database scan operators
    S1/S2 (reference: src/ingestion/data_sources.py:217-239): the
    ``WHERE ts_col > :watermark`` SQL becomes a DataFrame predicate that
    Catalyst pushes into the scan (check ``PushedFilters`` in .explain()).

    The reference's ``ORDER BY timestamp`` on incremental extracts
    (data_sources.py:227) is deliberately dropped: a global sort is a
    needless shuffle at scale; ordering belongs at the sink if anywhere.

    Schema rule (``read_reusing_schema``): an explicit ``schema`` is
    used as given. Without one, a parquet source infers on its first
    ``read`` and reuses that schema for as long as the source lives, so
    a repeated probe/extract starts no schema-inference job. Without
    ``mergeSchema`` Spark infers from a single footer anyway, so the
    stored schema is the one each read would have found; files that later
    add columns are read with the stored columns, as they would be by
    that inference. With ``mergeSchema`` (read option or session conf)
    every read infers afresh, since new files can widen the union.
    """

    source_id: str
    path: str
    fmt: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    schema: Any = None  # StructType; None = parquet self-describing
    _schemas: SchemaStore = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def _keeps_inferred(self, spark: SparkSession) -> bool:
        if self.fmt != "parquet":
            return False
        opts = {k.lower(): v for k, v in self.options.items()}
        merge = opts.get(
            "mergeschema", spark.conf.get("spark.sql.parquet.mergeSchema", "false")
        )
        return str(merge).lower() != "true"

    def read(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format(self.fmt).options(**self.options)
        store = self._schemas if self._keeps_inferred(spark) else None
        return read_reusing_schema(reader, self.path, self.schema, store)

    def extract(
        self,
        spark: SparkSession,
        timestamp_column: str | None = None,
        watermark: datetime | str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Full scan, or incremental scan strictly after ``watermark``.

        Strictly-greater-than matches the reference's watermark semantics
        (src/ingestion/data_sources.py:224-228).
        """
        df = self.read(spark)
        if columns:
            df = df.select(*columns)
        if timestamp_column and watermark is not None:
            df = df.where(F.col(timestamp_column) > F.lit(watermark))
        return df

    def test_connection(self, spark: SparkSession) -> bool:
        try:
            self.read(spark).schema
            return True
        except Exception:
            return False


# ---------------------------------------------------------------------------
# JDBC source — config holder; same incremental semantics, pushed to the DB.
# ---------------------------------------------------------------------------


@dataclass
class JDBCSource:
    """Database scan via spark JDBC (reference: DatabaseDataSource,
    src/ingestion/data_sources.py:44-239).

    The reference hand-rolls a SQLAlchemy pool (pool 5 / overflow 10);
    Spark's JDBC reader replaces that with ``numPartitions`` +
    ``partitionColumn`` bounded parallel reads — each executor opens its own
    connection and reads a key-range slice, which is what actually scales.
    The live leg is integration-tested against embedded Apache Derby
    (tests/test_sources.py::test_jdbc_live_roundtrip_embedded_derby):
    write → full scan → watermark-pushed incremental scan → 4-way
    bounded partitioned read.
    """

    source_id: str
    url: str
    table: str
    properties: dict[str, str] = field(default_factory=dict)
    num_partitions: int | None = None
    partition_column: str | None = None
    lower_bound: str | None = None
    upper_bound: str | None = None
    fetchsize: int = 10_000

    def reader_options(
        self,
        timestamp_column: str | None = None,
        watermark: str | None = None,
    ) -> dict[str, str]:
        # push the watermark predicate into the generated query (the
        # reference binds `WHERE ts > :watermark`, data_sources.py:224-228;
        # Spark's dbtable subquery can't carry bind parameters, so the
        # literal is SQL-escaped — quotes doubled — and the column name is
        # validated as a plain identifier before interpolation).
        # Backslashes are rejected outright: on backends where backslash
        # escapes quotes (e.g. MySQL's default sql_mode) a watermark like
        # `abc\` or `\'` would still break out of the quote-doubled
        # literal, and no real timestamp/sequence watermark contains one.
        dbtable = self.table
        if timestamp_column and watermark is not None:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_$.]*", timestamp_column):
                raise ValueError(
                    f"timestamp_column {timestamp_column!r} is not a plain "
                    "SQL identifier"
                )
            if "\\" in str(watermark):
                raise ValueError(
                    f"watermark {watermark!r} contains a backslash; only "
                    "plain timestamp/sequence literals can be pushed into "
                    "a JDBC dbtable subquery"
                )
            literal = str(watermark).replace("'", "''")
            dbtable = (
                f"(SELECT * FROM {self.table} "
                f"WHERE {timestamp_column} > '{literal}') AS incr"
            )
        opts = {
            "url": self.url,
            "dbtable": dbtable,
            "fetchsize": str(self.fetchsize),
            **self.properties,
        }
        if self.num_partitions and self.partition_column:
            opts.update(
                numPartitions=str(self.num_partitions),
                partitionColumn=self.partition_column,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
            )
        return opts

    def extract(
        self,
        spark: SparkSession,
        timestamp_column: str | None = None,
        watermark: str | None = None,
        push_via_filter: bool = True,
    ) -> DataFrame:
        """Scan the table; with a watermark, return only rows strictly
        newer. Default path (``push_via_filter``): read the PLAIN table
        reference and apply a DataFrame filter — Spark's JDBC relation
        compiles pushed filters into the remote WHERE clause with
        dialect-correct literal escaping (visible as ``PushedFilters:
        [GreaterThan(...)]`` in the plan), so no SQL string is ever
        assembled by hand and the escaping question disappears
        structurally. The literal is cast to the COLUMN's JDBC-reported
        type so the comparison stays pushable (an implicit cast landing
        on the column side would block pushdown and turn the scan into
        full-table + local filter). ``push_via_filter=False`` keeps the
        validated dbtable-subquery formulation (reader_options) for
        backends whose drivers mis-handle filter pushdown."""
        if timestamp_column and watermark is not None and push_via_filter:
            opts = self.reader_options(None, None)
            df = spark.read.format("jdbc").options(**opts).load()
            dtypes = dict(df.dtypes)
            if timestamp_column not in dtypes:
                raise ValueError(
                    f"timestamp_column {timestamp_column!r} not in "
                    f"{self.table} columns {sorted(dtypes)}"
                )
            literal = F.lit(str(watermark)).cast(dtypes[timestamp_column])
            return df.where(F.col(timestamp_column) > literal)
        opts = self.reader_options(timestamp_column, watermark)
        return spark.read.format("jdbc").options(**opts).load()


# ---------------------------------------------------------------------------
# API source — driver-side fetch with retry/backoff, parallelized across
# endpoints/pages; rows land in Spark via createDataFrame (Arrow).
# ---------------------------------------------------------------------------


def retry_with_backoff(
    fn: Callable[[], Any],
    max_retries: int = 3,
    retry_delay: float = 1.0,
    retryable: Callable[[Exception], bool] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Exponential backoff retry: delay * 2^(attempt-1).

    Matches the reference's extractor retry semantics
    (src/ingestion/extractors.py:159-216): non-retryable errors re-raise
    immediately; retryable ones back off; the last failure re-raises.
    """
    last_exc: Exception | None = None
    for attempt in range(1, max_retries + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — classification decides
            if retryable is not None and not retryable(exc):
                raise
            last_exc = exc
            if attempt < max_retries:
                sleep(retry_delay * 2 ** (attempt - 1))
    assert last_exc is not None
    raise last_exc


#: error classification (reference: src/ingestion/extractors.py:194-216)
RETRYABLE_MESSAGE_SUBSTRINGS = (
    "timeout",
    "connection",
    "temporary",
    "rate limit",
    "too many requests",
    "503",
    "502",
    "429",
)


def is_retryable_error(exc: Exception) -> bool:
    if isinstance(exc, (ConnectionError, TimeoutError)):
        return True
    msg = str(exc).lower()
    return any(s in msg for s in RETRYABLE_MESSAGE_SUBSTRINGS)


@dataclass
class APISource:
    """REST API scan (reference: APIDataSource,
    src/ingestion/data_sources.py:288-443).

    ``fetch_fn`` abstracts the HTTP GET (no requests lib needed in tests);
    response-shape dispatch matches the reference (list / {data: [...]} /
    scalar dict → one-row), data_sources.py:428-433. At scale the fetch is a
    driver-side trickle feeding a staging directory consumed by a streaming
    file source — the API is never the 100 TB path.
    """

    source_id: str
    endpoint: str
    fetch_fn: Callable[[str, dict[str, Any]], Any]
    params: dict[str, Any] = field(default_factory=dict)
    max_retries: int = 3
    retry_delay: float = 1.0
    data_key: str = "data"

    def _rows(self, payload: Any) -> list[dict[str, Any]]:
        if isinstance(payload, list):
            return payload
        if isinstance(payload, dict):
            if isinstance(payload.get(self.data_key), list):
                return payload[self.data_key]
            return [payload]  # scalar dict → single row
        raise DataSourceError(f"unsupported API payload shape: {type(payload)}")

    def extract(
        self,
        spark: SparkSession,
        since: str | None = None,
        schema: Any = None,
    ) -> DataFrame:
        params = dict(self.params)
        if since is not None:
            params["since"] = since
        payload = retry_with_backoff(
            lambda: self.fetch_fn(self.endpoint, params),
            max_retries=self.max_retries,
            retry_delay=self.retry_delay,
            retryable=is_retryable_error,
        )
        rows = self._rows(payload)
        if not rows:
            if schema is None:
                raise DataSourceError("empty API response with no schema")
            return spark.createDataFrame([], schema=schema)
        if schema is not None:
            return spark.createDataFrame(rows, schema=schema)
        return spark.createDataFrame(rows)


# ---------------------------------------------------------------------------
# Factory registry (reference: DataSourceFactory,
# src/ingestion/data_sources.py:489-517)
# ---------------------------------------------------------------------------


class SourceRegistry:
    """source_type → constructor registry, extensible like the reference's
    ``DataSourceFactory.register_source_type`` (data_sources.py:507-512)."""

    def __init__(self) -> None:
        self._types: dict[str, Callable[..., Any]] = {
            "file": FileSource,
            "parquet": FileSource,
            "jdbc": JDBCSource,
            "api": APISource,
        }

    def register_source_type(self, name: str, ctor: Callable[..., Any]) -> None:
        self._types[name] = ctor

    def create_source(self, source_type: str, source_id: str, **params: Any) -> Any:
        if source_type not in self._types:
            raise DataSourceError(f"unknown source type: {source_type}")
        return self._types[source_type](source_id=source_id, **params)

    @property
    def registered_types(self) -> list[str]:
        return sorted(self._types)


# ---------------------------------------------------------------------------
# Convenience loaders for the synthetic star schema (TESTDATA.md)
# ---------------------------------------------------------------------------


#: schemas ``load_table`` inferred, keyed by qualified path and
#: versioned by the file listing, so a table rewritten in place is
#: inferred again. Process-wide because plan functions take only
#: (spark, sf_dir); one entry per path, and a schema holds no session.
_TABLE_SCHEMAS: SchemaStore = {}


def _listing(spark: SparkSession, path: str) -> tuple[str, tuple] | None:
    """(qualified path, sorted (file, length, mtime) under it), from the
    Hadoop FileSystem on the driver, so no Spark job runs. None when the
    path cannot be listed; the read then reports the error itself."""
    jvm = spark.sparkContext._jvm
    try:
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        qualified = fs.makeQualified(p)
        files = fs.listFiles(qualified, True)
        entries = []
        while files.hasNext():
            st = files.next()
            entries.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    except Py4JJavaError:
        return None
    return qualified.toString(), tuple(sorted(entries))


def _pin_conf(spark: SparkSession, key: str, value: str) -> None:
    if spark.conf.get(key) != value:
        spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as parquet (self-describing schema).

    Schema rule (``read_reusing_schema``): the first read of a path
    infers its schema (one Spark job); later reads of the same qualified
    path reuse it while the Hadoop listing of its files (names, lengths,
    mtimes) is unchanged, so building a plan over tables already seen
    starts no job. A table rewritten at the same path lists differently
    and is inferred again.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as long nanoseconds and floor-divide
    to microsecond timestamps (integer DIV — float division would lose
    precision above 2^53 ns).

    ``session.get_spark`` sets both confs this read needs (session
    timezone UTC, so timestamp rendering and truncation match the
    oracles; ``nanosAsLong`` for ``events``). A caller may bring its own
    session with other values, so each call checks them and sets only
    one that differs.
    """
    path = f"{sf_dir}/{name}.parquet"
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    if name == "events":
        _pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read.format("parquet")
    listed = _listing(spark, path)
    if listed is None:
        df = reader.load(path)
    else:
        qualified, files = listed
        df = read_reusing_schema(
            reader, qualified, store=_TABLE_SCHEMAS, version=files
        )
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    wanted = names or tuple(TABLE_SCHEMAS)
    return {n: load_table(spark, sf_dir, n) for n in wanted}
