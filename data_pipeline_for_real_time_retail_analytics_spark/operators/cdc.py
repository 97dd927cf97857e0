"""Change-data-capture operators (SURVEY.md §2.2-2.3).

The reference's CDC surface — timestamp probe, changelog probe, watermark
store, event dedup (reference: src/ingestion/change_detection.py:28-345,
src/ingestion/data_sources.py:128-209) — re-expressed as DataFrame plans:

* probes are single-pass aggregations whose filters push into the scan;
* the watermark store is driver-side *metadata* (a few KB), exactly like a
  Structured Streaming checkpoint — the data path never routes through it;
* dedup is a key-based aggregation (batch) or
  ``dropDuplicatesWithinWatermark`` (streaming twin in streaming/ingest.py).

At 100 TB: the watermark predicate is partition pruning on a
date-partitioned table; the probe aggregations are map-side partial
aggs with a single-row result.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from datetime import datetime, timezone
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ChangeType(Enum):
    """Change taxonomy (reference: src/interfaces/base.py:12-17)."""

    INSERT = "insert"
    UPDATE = "update"
    DELETE = "delete"
    TRUNCATE = "truncate"


#: changelog op-code mapping (reference: src/ingestion/data_sources.py:187-191)
OP_CODE_MAP = {"I": "insert", "U": "update", "D": "delete"}


class WatermarkStore:
    """Per-(source, table) watermark persistence
    (reference: MetadataStore, src/ingestion/change_detection.py:28-90).

    One JSON file per (source, table), thread-locked writes, ISO
    timestamps; ``min_watermark`` gives the min-across-tables rollup
    (change_detection.py:200-227). This is control-plane metadata — the
    streaming path replaces it with Spark's checkpointLocation.

    A write goes to a temp file in the same directory and is renamed over
    the old one (``os.replace`` is atomic on POSIX and Windows), so a
    crash mid-write leaves the previous watermark readable instead of a
    torn JSON file that ``get`` would read as "no watermark" — which
    would replay all history into an append-only sink.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self._lock = threading.Lock()
        os.makedirs(root, exist_ok=True)

    def _path(self, source_id: str, table: str) -> str:
        return os.path.join(self.root, f"{source_id}__{table}.json")

    def get(self, source_id: str, table: str) -> datetime | None:
        try:
            with open(self._path(source_id, table)) as fh:
                raw = json.load(fh)["last_processed_timestamp"]
            return datetime.fromisoformat(raw)
        except (FileNotFoundError, KeyError, ValueError):
            return None

    def update(self, source_id: str, table: str, ts: datetime) -> None:
        record = {
            "source_id": source_id,
            "table_name": table,
            "last_processed_timestamp": ts.isoformat(),
            "updated_at": datetime.now(timezone.utc).isoformat(),
            "metadata": {},
        }
        with self._lock:
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
            try:
                with os.fdopen(fd, "w") as fh:
                    json.dump(record, fh)
                os.replace(tmp, self._path(source_id, table))
            except BaseException:
                os.unlink(tmp)
                raise

    def min_watermark(self, source_id: str, tables: list[str]) -> datetime | None:
        marks = [self.get(source_id, t) for t in tables]
        marks = [m for m in marks if m is not None]
        return min(marks) if marks else None


def incremental_read(
    df: DataFrame, ts_col: str, watermark: datetime | str | None
) -> DataFrame:
    """Rows strictly after the watermark (S1 semantics,
    reference: src/ingestion/data_sources.py:224-228). The predicate is
    pushed to the scan; the reference's ORDER BY is dropped (needless
    global sort — see sources/registry.py)."""
    if watermark is None:
        return df
    return df.where(F.col(ts_col) > F.lit(watermark))


def timestamp_cdc_probe(
    df: DataFrame, ts_col: str, watermark: datetime | str | None
) -> DataFrame:
    """C1: ``SELECT COUNT(*), MAX(ts) WHERE ts > watermark`` as one
    aggregate (reference: src/ingestion/data_sources.py:138-144).
    Returns a single-row DataFrame (change_count, max_ts)."""
    return incremental_read(df, ts_col, watermark).agg(
        F.count(F.lit(1)).alias("change_count"),
        F.max(ts_col).alias("max_ts"),
    )


def log_cdc_probe(
    changelog: DataFrame,
    op_col: str = "operation",
    ts_col: str = "change_timestamp",
    processed_col: str | None = "processed",
) -> DataFrame:
    """C2: unprocessed changelog rows grouped by operation with I/U/D
    mapped to the change taxonomy (reference:
    src/ingestion/data_sources.py:177-191). One shuffle on the op code."""
    df = changelog
    if processed_col is not None and processed_col in df.columns:
        df = df.where(~F.col(processed_col))
    mapping = F.create_map(
        *[F.lit(x) for kv in OP_CODE_MAP.items() for x in kv]
    )
    return (
        df.groupBy(F.col(op_col).alias("op_code"))
        .agg(
            F.count(F.lit(1)).alias("change_count"),
            F.max(ts_col).alias("max_ts"),
        )
        .withColumn(
            "change_type",
            F.coalesce(mapping[F.col("op_code")], F.col("op_code")),
        )
        .select("op_code", "change_type", "change_count", "max_ts")
    )


def dedup_change_events(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window_minutes: int = 60,
) -> DataFrame:
    """C5: suppress repeats of the same event key within a time window
    (reference: ChangeEventDeduplicator,
    src/ingestion/change_detection.py:93-134 — key source:table:type:ts,
    60-min window).

    Batch formulation: bucket each row's timestamp into a window of
    ``window_minutes`` and keep one row per (key, bucket) — an exact,
    shuffle-once groupBy, no state needed. The streaming twin is
    ``withWatermark + dropDuplicatesWithinWatermark``."""
    bucket = F.window(F.col(ts_col), f"{window_minutes} minutes")
    keep_first = [
        F.min_by(F.col(c), F.col(ts_col)).alias(c)
        for c in df.columns
        if c not in key_cols
    ]
    return (
        df.groupBy(*[F.col(c) for c in key_cols], bucket.alias("_w"))
        .agg(*keep_first)
        .drop("_w")
        .select(*df.columns)
    )


def advance_watermark(df: DataFrame, ts_col: str) -> datetime | None:
    """Post-batch watermark advance to max(event ts)
    (reference: src/ingestion/change_detection.py:168-198). One agg job,
    one scalar to the driver — this is the only collect in the CDC path."""
    row = df.agg(F.max(ts_col).alias("m")).first()
    return row["m"]
