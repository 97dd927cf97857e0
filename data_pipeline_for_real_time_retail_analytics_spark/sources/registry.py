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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLE_SCHEMAS


class DataSourceError(Exception):
    """Raised when a source cannot connect or extract."""


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

    Without an explicit ``schema``, a parquet source stores the schema
    its first ``read`` infers and hands it to every later read, so a
    repeated probe/extract starts no schema-inference job. Without
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
    _inferred: Any = field(default=None, init=False, repr=False, compare=False)

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
        schema = self.schema if self.schema is not None else self._inferred
        if schema is not None:
            return reader.schema(schema).load(self.path)
        df = reader.load(self.path)
        if self._keeps_inferred(spark):
            self._inferred = df.schema
        return df

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as parquet (self-describing schema).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as long nanoseconds and floor-divide
    to microsecond timestamps (integer DIV — float division would lose
    precision above 2^53 ns).
    """
    path = f"{sf_dir}/{name}.parquet"
    # pin UTC so timestamp rendering/truncation is independent of whatever
    # session timezone the caller's SparkSession carries (oracle parity)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    wanted = names or tuple(TABLE_SCHEMAS)
    return {n: load_table(spark, sf_dir, n) for n in wanted}
