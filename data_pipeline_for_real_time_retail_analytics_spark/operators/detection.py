"""Change-detection strategies and multi-source fan-out (SURVEY.md §2.2:
C3, C6-C9).

The reference drives ingestion from a `ChangeDetector` hierarchy — a
timestamp strategy, a log strategy, a polling strategy with a
skip-if-recent gate, and a multi-source coordinator running them over a
thread pool with per-source status (reference:
src/ingestion/change_detection.py:145-501). Here each strategy produces
its answer from ONE Spark aggregate (the probes in operators/cdc.py) —
the "thread pool" disappears because the heavy lifting is executor
parallelism; the driver loop just sequences tiny single-row jobs. The
streaming path (streaming/ingest.py) subsumes all of this with
Trigger.ProcessingTime micro-batches; this module is the batch-mode /
library-API equivalent (reference entry point EP3, SURVEY.md §3).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable

from pyspark.sql import DataFrame

from .cdc import ChangeType, WatermarkStore, log_cdc_probe, timestamp_cdc_probe


@dataclass
class ChangeEvent:
    """One detected change (reference: src/interfaces/base.py:30-38).

    ``commit`` (set by detectors that keep a stored watermark) moves that
    watermark to the newest change this detection saw. Detection itself
    leaves the store alone: a consumer calls ``commit`` once the batch has
    landed, so a failure or a crash anywhere before that reports the same
    rows again. Committing the same event twice is harmless.
    """

    source_id: str
    table_name: str
    change_type: ChangeType
    timestamp: datetime
    affected_rows: int
    metadata: dict[str, Any] = field(default_factory=dict)
    commit: Callable[[], None] | None = field(default=None, repr=False, compare=False)


class TimestampChangeDetector:
    """C6: rows with ts strictly after the stored watermark → one event
    (reference: change_detection.py:145-198). The reference advances the
    watermark to max(ts) at detection; here the event's ``commit`` does,
    once the consumer has loaded the rows."""

    def __init__(self, store: WatermarkStore, ts_col: str = "ts") -> None:
        self.store = store
        self.ts_col = ts_col

    def detect(self, source_id: str, table: str, df: DataFrame) -> list[ChangeEvent]:
        wm = self.store.get(source_id, table)
        row = timestamp_cdc_probe(
            df, self.ts_col, wm.isoformat(sep=" ") if wm else "1970-01-01"
        ).first()
        if not row or not row["change_count"]:
            return []
        max_ts = row["max_ts"]
        return [
            ChangeEvent(
                source_id,
                table,
                ChangeType.UPDATE,
                max_ts,
                row["change_count"],
                {"detection_method": "timestamp"},
                lambda: self.store.update(source_id, table, max_ts),
            )
        ]


class LogChangeDetector:
    """C7: changelog probe grouped by op code → one event per operation
    (reference: change_detection.py:238-268). Every event carries the same
    ``commit``, which moves the watermark to the newest event."""

    def __init__(self, store: WatermarkStore, op_col: str = "operation",
                 ts_col: str = "change_timestamp") -> None:
        self.store = store
        self.op_col = op_col
        self.ts_col = ts_col

    def detect(self, source_id: str, table: str, changelog: DataFrame) -> list[ChangeEvent]:
        rows = log_cdc_probe(changelog, self.op_col, self.ts_col).collect()
        if not rows:
            return []
        newest = max(r["max_ts"] for r in rows)

        def commit() -> None:
            self.store.update(source_id, table, newest)

        return [
            ChangeEvent(
                source_id,
                table,
                ChangeType(r["change_type"]),
                r["max_ts"],
                r["change_count"],
                {"detection_method": "log_based", "op_code": r["op_code"]},
                commit,
            )
            for r in rows
        ]


class PollingChangeDetector:
    """C3/C8: poll a callable (API fetch, file listing) at most every
    ``poll_interval`` seconds; a non-empty response is a change event
    (reference: change_detection.py:303-345,
    data_sources.py:329-381 — `polling_interval` respected, skip when
    polled too recently)."""

    def __init__(
        self,
        poll_fn: Callable[[datetime | None], int],
        poll_interval: float = 300.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.poll_fn = poll_fn
        self.poll_interval = poll_interval
        self.clock = clock
        self._last_poll: float | None = None
        self._last_seen: datetime | None = None

    def detect(self, source_id: str, table: str) -> list[ChangeEvent]:
        now = self.clock()
        if self._last_poll is not None and now - self._last_poll < self.poll_interval:
            return []  # too soon — skip, like the reference's interval gate
        self._last_poll = now
        n = self.poll_fn(self._last_seen)
        if not n:
            return []
        self._last_seen = datetime.now().astimezone()
        return [
            ChangeEvent(
                source_id,
                table,
                ChangeType.INSERT,
                self._last_seen,
                n,
                {"detection_method": "polling"},
            )
        ]


class MultiSourceChangeDetector:
    """C9: fan-out over registered (source, detector, input) triples with
    per-source status/health (reference: change_detection.py:417-501).

    The reference needs a ThreadPoolExecutor because each probe blocks on
    a database round-trip; here each probe IS a Spark job that already
    fans out across executors, so the driver loop stays sequential and
    the per-source status map is bookkeeping."""

    def __init__(self) -> None:
        self._sources: dict[str, Callable[[], list[ChangeEvent]]] = {}
        self._status: dict[str, dict[str, Any]] = {}

    def register_source(
        self, source_id: str, probe: Callable[[], list[ChangeEvent]]
    ) -> None:
        self._sources[source_id] = probe
        self._status[source_id] = {"healthy": True, "last_check": None, "last_error": None}

    def __contains__(self, source_id: str) -> bool:
        return source_id in self._sources

    def detect_changes(self, source_id: str) -> list[ChangeEvent]:
        """Run one source's probe and record its health; a failing probe
        yields [] (log-and-continue like the reference)."""
        st = self._status[source_id]
        st["last_check"] = datetime.now().astimezone().isoformat()
        try:
            events = self._sources[source_id]()
        except Exception as exc:
            st["healthy"] = False
            st["last_error"] = str(exc)
            return []
        st["healthy"] = True
        st["last_error"] = None
        return events

    def detect_all_changes(self) -> dict[str, list[ChangeEvent]]:
        return {sid: self.detect_changes(sid) for sid in self._sources}

    def get_source_status(self) -> dict[str, dict[str, Any]]:
        return {k: dict(v) for k, v in self._status.items()}

    def healthy(self) -> bool:
        return all(v["healthy"] for v in self._status.values())
