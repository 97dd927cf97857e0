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

    ``undo`` (set by detectors that advance a stored watermark) puts that
    watermark back. A consumer whose extract or load fails calls it, so
    the next detection reports the same rows again instead of skipping
    past a batch that never landed.
    """

    source_id: str
    table_name: str
    change_type: ChangeType
    timestamp: datetime
    affected_rows: int
    metadata: dict[str, Any] = field(default_factory=dict)
    undo: Callable[[], None] | None = field(default=None, repr=False, compare=False)


def _advance(store: WatermarkStore, source_id: str, table: str,
             ts: datetime) -> Callable[[], None]:
    """Advance the stored watermark to ``ts``; return the hook that
    restores the one it replaced (none at all if there was none)."""
    prev = store.get(source_id, table)
    store.update(source_id, table, ts)
    return lambda: store.reset(source_id, table, prev)


class TimestampChangeDetector:
    """C6: rows with ts strictly after the stored watermark → one event;
    watermark advances to max(ts) (reference:
    change_detection.py:145-198). The advance happens at detection, as in
    the reference; the event's ``undo`` reverts it."""

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
        undo = _advance(self.store, source_id, table, max_ts)
        return [
            ChangeEvent(
                source_id,
                table,
                ChangeType.UPDATE,
                max_ts,
                row["change_count"],
                {"detection_method": "timestamp"},
                undo,
            )
        ]


class LogChangeDetector:
    """C7: changelog probe grouped by op code → one event per operation
    (reference: change_detection.py:238-268). The watermark advances to
    the newest event at detection; every event carries the same ``undo``."""

    def __init__(self, store: WatermarkStore, op_col: str = "operation",
                 ts_col: str = "change_timestamp") -> None:
        self.store = store
        self.op_col = op_col
        self.ts_col = ts_col

    def detect(self, source_id: str, table: str, changelog: DataFrame) -> list[ChangeEvent]:
        rows = log_cdc_probe(changelog, self.op_col, self.ts_col).collect()
        events = []
        for r in rows:
            events.append(
                ChangeEvent(
                    source_id,
                    table,
                    ChangeType(r["change_type"]),
                    r["max_ts"],
                    r["change_count"],
                    {"detection_method": "log_based", "op_code": r["op_code"]},
                )
            )
        if events:
            undo = _advance(self.store, source_id, table,
                            max(e.timestamp for e in events))
            for e in events:
                e.undo = undo
        return events


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
        self._sources: dict[str, tuple[Any, Callable[[], list[ChangeEvent]]]] = {}
        self._status: dict[str, dict[str, Any]] = {}

    def register_source(
        self, source_id: str, probe: Callable[[], list[ChangeEvent]]
    ) -> None:
        self._sources[source_id] = (source_id, probe)
        self._status[source_id] = {"healthy": True, "last_check": None, "last_error": None}

    def detect_all_changes(self) -> dict[str, list[ChangeEvent]]:
        out: dict[str, list[ChangeEvent]] = {}
        for sid, (_, probe) in self._sources.items():
            st = self._status[sid]
            st["last_check"] = datetime.now().astimezone().isoformat()
            try:
                out[sid] = probe()
                st["healthy"] = True
                st["last_error"] = None
            except Exception as exc:  # log-and-continue like the reference
                out[sid] = []
                st["healthy"] = False
                st["last_error"] = str(exc)
        return out

    def get_source_status(self) -> dict[str, dict[str, Any]]:
        return {k: dict(v) for k, v in self._status.items()}

    def healthy(self) -> bool:
        return all(v["healthy"] for v in self._status.values())
