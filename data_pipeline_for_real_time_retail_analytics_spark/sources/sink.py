"""Warehouse sink (SURVEY.md §2.1 S7/S8).

The reference declares a ``DataLoader`` ABC — load(data, table, mode),
create_table(schema), table_exists — plus a SQL-passthrough operator,
both stubbed against Snowflake (reference: src/interfaces/base.py:114-130,
src/orchestration/operators.py:336-378, src/storage/__init__.py is
empty). Spark's catalog-managed tables implement the declared contract
natively: ``saveAsTable`` for load, ``spark.catalog`` for DDL/existence,
parameterized ``spark.sql`` for passthrough. At scale the managed tables
are the lakehouse layer (parquet here; Delta/Iceberg drop in via
``format`` without touching callers).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class LoadResult:
    """Mirror of the reference's LoadResult (base.py:60-69).

    ``rows_loaded`` is the exact number of rows the write took (0 when it
    failed)."""

    success: bool
    target_table: str
    rows_loaded: int
    mode: str
    error: str | None = None


class WarehouseSink:
    """Catalog-managed table sink.

    Every load counts the rows it writes with an ``Observation`` on the
    frame it hands to the writer, so ``rows_loaded`` is exact and the
    input is read once."""

    def __init__(self, spark: SparkSession, database: str = "default",
                 fmt: str = "parquet") -> None:
        self.spark = spark
        self.database = database
        self.fmt = fmt
        if database != "default":
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    def _qualified(self, table: str) -> str:
        return table if "." in table else f"{self.database}.{table}"

    def table_exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._qualified(table))

    def create_table(self, table: str, schema: T.StructType) -> bool:
        """Idempotent CREATE (reference: create_table returns success)."""
        if self.table_exists(table):
            return True
        empty = self.spark.createDataFrame([], schema=schema)
        empty.write.format(self.fmt).saveAsTable(self._qualified(table))
        return True

    def _sweep_stale_location(self, name: str) -> None:
        """Remove an orphaned managed-table directory.

        With the default in-memory catalog, a table written in a previous
        session leaves its warehouse directory behind while the catalog
        forgets it; ``saveAsTable`` then fails with
        LOCATION_ALREADY_EXISTS even in overwrite mode. Under overwrite
        semantics the caller asked to replace the table, so an
        unregistered leftover at the table's default location is safe to
        delete. Uses the Hadoop FileSystem API, so it works on any
        warehouse scheme (local, HDFS, S3A), best-effort.
        """
        if self.spark.catalog.tableExists(name):
            return  # registered: saveAsTable(overwrite) handles it itself
        db, _, table = name.rpartition(".")
        try:
            db_uri = self.spark.catalog.getDatabase(db or "default").locationUri
            jvm = self.spark._jvm
            path = jvm.org.apache.hadoop.fs.Path(f"{db_uri}/{table.lower()}")
            fs = path.getFileSystem(
                self.spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
            )
            if fs.exists(path):
                fs.delete(path, True)
        except Exception:  # pragma: no cover - cleanup is best-effort
            pass

    def _load(
        self,
        target: str,
        mode: str,
        write: Callable[[Callable[[DataFrame], DataFrame]], None],
    ) -> LoadResult:
        """Run ``write(observe)`` and report it as a ``LoadResult``.

        ``write`` passes the exact frame it hands to the writer through
        ``observe``, which puts one ``count(1)`` ``Observation`` on it, so
        ``rows_loaded`` is exact and the input plan runs once. The count
        is read only after the write succeeded: after a failed write
        ``Observation.get`` blocks. Errors are reported, not raised — the
        reference contract."""
        obs = Observation()
        try:
            write(lambda df: df.observe(obs, F.count(F.lit(1)).alias("rows")))
        except Exception as exc:
            return LoadResult(False, target, 0, mode, error=str(exc))
        return LoadResult(True, target, obs.get["rows"], mode)

    def load(
        self,
        df: DataFrame,
        target_table: str,
        mode: str = "append",
    ) -> LoadResult:
        """mode: append | overwrite (reference load modes, base.py:118)."""
        name = self._qualified(target_table)

        def write(observe):
            if mode == "overwrite":
                self._sweep_stale_location(name)
            observe(df).write.format(self.fmt).mode(mode).saveAsTable(name)

        return self._load(name, mode, write)

    def load_bucketed(
        self,
        df: DataFrame,
        target_table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> LoadResult:
        """Write a catalog table hash-bucketed (and optionally sorted) on
        the join/merge keys. Two tables bucketed the same way join with
        ZERO shuffle — at 100 TB this is how fact⋈fact joins and the
        incremental merge anti-join avoid re-shuffling the big table
        every batch (see tests/test_plans_physical.py for the
        no-Exchange proof)."""
        name = self._qualified(target_table)

        def write(observe):
            writer = observe(df).write.format(self.fmt).mode(mode).bucketBy(
                n_buckets, *bucket_cols
            )
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
            writer.saveAsTable(name)

        return self._load(name, mode, write)

    def load_partitioned(
        self,
        df: DataFrame,
        target_table: str,
        partition_cols: list[str],
        mode: str = "overwrite",
        dynamic: bool = True,
    ) -> LoadResult:
        """Write a catalog table partitioned on ``partition_cols`` (the
        100 TB layout: date/tenant partitions prune scans to the slices a
        query touches). With ``dynamic=True`` an overwrite replaces ONLY
        the partitions present in ``df`` — the incremental-batch reload
        pattern — instead of truncating the whole table (Spark's static
        default). The session's partitionOverwriteMode is restored after
        the write so the setting never leaks to other writers."""
        name = self._qualified(target_table)
        conf = self.spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key, "STATIC")

        def write(observe):
            conf.set(key, "dynamic" if dynamic else "static")
            if not self.table_exists(target_table):
                # first load creates the partitioned table layout
                self._sweep_stale_location(name)
                (
                    observe(df).write.format(self.fmt)
                    .mode("overwrite")
                    .partitionBy(*partition_cols)
                    .saveAsTable(name)
                )
            else:
                # saveAsTable(overwrite) would drop/recreate the WHOLE
                # table regardless of partitionOverwriteMode — per-
                # partition replacement only happens through insertInto,
                # which is positional: align to the catalog column order
                cols = self.spark.table(name).columns
                observe(df.select(*cols)).write.insertInto(
                    name, overwrite=(mode == "overwrite")
                )

        try:
            return self._load(name, mode, write)
        finally:
            conf.set(key, prev)

    def load_clustered(
        self,
        df: DataFrame,
        path: str,
        cluster_cols: list[str],
        n_files: int = 8,
        mode: str = "overwrite",
        drop_cols: list[str] | None = None,
    ) -> LoadResult:
        """Range-clustered parquet layout: ``repartitionByRange`` on the
        cluster columns then ``sortWithinPartitions`` before the write,
        so each output file owns a DISJOINT key range and rows inside it
        are sorted. Parquet then records tight per-file/per-row-group
        min/max stats, and any scan filtered on the cluster columns
        skips every file whose range misses — the poor man's Z-order,
        and at 100 TB the difference between touching one file and
        touching all of them. One range shuffle (sampling pass + write),
        no driver-side data.

        ``drop_cols`` drops TRANSIENT cluster keys after the
        partition/sort and before the write (a Project preserves its
        child's ordering, so the layout survives): the Z-order path
        clusters on a computed Morton code the output schema must not
        carry (operators/zorder.py).

        ``rows_loaded`` is observed on the frame the writer gets, after
        the range shuffle: observed before it, the count would also take
        in the range-sampling job's read of the input."""

        def write(observe):
            clustered = df.repartitionByRange(
                n_files, *[F.col(c) for c in cluster_cols]
            ).sortWithinPartitions(*cluster_cols)
            if drop_cols:
                clustered = clustered.drop(*drop_cols)
            observe(clustered).write.mode(mode).parquet(path)

        return self._load(path, mode, write)

    def analyze_table(
        self, table: str, columns: list[str] | None = None
    ) -> dict[str, int | None]:
        """ANALYZE TABLE ... COMPUTE STATISTICS (plus per-column NDV /
        min/max when ``columns`` given) and return the recorded
        {row_count, size_bytes}. The post-load step every warehouse
        table needs at 100 TB: Spark's cost-based optimizer
        (``spark.sql.cbo.enabled``) can only reorder joins and pick
        build sides from CATALOG stats — without this, CBO sees no row
        counts and falls back to size heuristics. Column stats feed NDV
        estimates for join cardinality.
        """
        name = self._qualified(table)
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            self.spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(columns)}"
            )
        out: dict[str, int | None] = {"row_count": None, "size_bytes": None}
        for row in self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            if row.col_name == "Statistics":
                # e.g. "1234 bytes, 56 rows"
                for part in row.data_type.split(","):
                    part = part.strip()
                    if part.endswith("rows"):
                        out["row_count"] = int(part.split()[0])
                    elif part.endswith("bytes"):
                        out["size_bytes"] = int(part.split()[0])
        return out

    def load_jdbc(
        self,
        df: DataFrame,
        url: str,
        table: str,
        mode: str = "append",
        properties: dict[str, str] | None = None,
        column_types: str | None = None,
    ) -> LoadResult:
        """JDBC warehouse load — the reference's DB-engine load leg
        (its loaders push frames into a SQL warehouse over a
        connection; reference: src/storage is the stubbed Snowflake
        half, base.py:118 the load-mode contract) as Spark's PARALLEL
        JDBC writer: every input partition opens its own connection and
        batch-inserts, so write parallelism equals input partitioning —
        ``df.coalesce(n)`` first if the target can't take that many
        concurrent writers. ``column_types`` feeds
        ``createTableColumnTypes`` (e.g. ``"NM VARCHAR(32)"`` — Spark
        otherwise maps strings to CLOB on Derby-family databases, which
        then can't be compared/indexed). Same report-don't-raise
        LoadResult contract as the table loads."""
        props = dict(properties or {})
        if column_types:
            props["createTableColumnTypes"] = column_types
        return self._load(
            table, mode,
            lambda observe: observe(df).write.jdbc(url, table, mode=mode, properties=props),
        )

    def execute_sql(self, sql: str, params: dict[str, Any] | None = None) -> list[Row]:
        """S8 passthrough with *parameterized* SQL — placeholders bind
        server-side (`:name`), no string interpolation (the reference
        formats params into the statement; operators.py:361-371)."""
        return self.spark.sql(sql, args=params or {}).collect()
