"""Engine — the library-path facade (SURVEY.md §3 EP3).

The reference's programmatic entry point is register sources → detect all
changes (thread pool) → extract with retry → validate → report
(reference: src/ingestion/change_detection.py:417-472,
src/ingestion/extractors.py:93-134, src/ingestion/validators.py:118-152,
demonstrated in examples/extraction_validation_example.py:55-208). This
facade composes the same walk from this package's pieces with Spark
semantics: every detect probe and extract IS a distributed Spark plan, so
the reference's ThreadPoolExecutor disappears; validation compiles to one
aggregate scan; loads land in catalog-managed tables.

One scan per step:

* validation profiles with sketches (``ValidationEngine(exact=False)``:
  HLL++ ``unique_count``, ``percentile_approx`` ``median``), so the
  aggregate needs no Expand or extra exchange. Everything the quality
  gate reads — row count, rule counts, schema uniqueness/PK counts, the
  number of profiled columns — stays exact. Build a ``ValidationEngine``
  directly for exact profile contents;
* ``load`` counts its rows with an ``Observation`` on the write instead
  of a separate ``count()``;
* ``FileSource`` reuses the schema its first read inferred.

A detector advances its stored watermark when it reports a change.
``run_once`` calls each event's ``undo`` hook when the extract,
validation or quality gate raises or the load reports failure, so the
next cycle sees the same rows again. A process that dies between detect
and load still leaves the watermark advanced.

Thin by design — each method delegates to the operator modules, which
remain independently usable.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.detection import ChangeEvent, MultiSourceChangeDetector
from .plans.validation import (
    SchemaDefinition,
    ValidationEngine,
    ValidationReport,
    ValidationRule,
)
from .sources.registry import retry_with_backoff
from .sources.sink import LoadResult, WarehouseSink


class Engine:
    """register_source → detect → extract → validate → load.

    ``sources`` maps source_id → any object with an
    ``extract(spark, **kw) -> DataFrame`` method (FileSource, JDBCSource,
    APISource, or user plugins registered through the source factory).
    """

    def __init__(
        self,
        spark: SparkSession,
        schemas: dict[str, SchemaDefinition] | None = None,
        rules: list[ValidationRule] | None = None,
        database: str = "default",
        max_retries: int = 3,
        retry_delay: float = 1.0,
    ) -> None:
        self.spark = spark
        self._sources: dict[str, Any] = {}
        self._detector = MultiSourceChangeDetector()
        self._validator = ValidationEngine(
            schemas=schemas or {}, rules=rules or [], exact=False
        )
        self._sink = WarehouseSink(spark, database=database)
        self.max_retries = max_retries
        self.retry_delay = retry_delay

    # -- sources ----------------------------------------------------------
    def register_source(
        self,
        source: Any,
        probe: Callable[[], list[ChangeEvent]] | None = None,
    ) -> None:
        """Register an extractable source; ``probe`` (optional) is its
        change-detection callable for ``detect()`` (reference:
        MultiSourceChangeDetector.register_source)."""
        sid = source.source_id
        self._sources[sid] = source
        if probe is not None:
            self._detector.register_source(sid, probe)

    # -- detect -----------------------------------------------------------
    def detect(self) -> dict[str, list[ChangeEvent]]:
        """Run every registered probe; per-source failures are recorded in
        ``source_status()`` and yield [] (swallow-and-continue, matching
        the reference's detector contract)."""
        return self._detector.detect_all_changes()

    def source_status(self) -> dict[str, dict[str, Any]]:
        return self._detector.get_source_status()

    # -- extract ----------------------------------------------------------
    def extract(self, source_id: str, **kwargs: Any) -> DataFrame:
        """Extract from a registered source with the reference's retry/
        backoff envelope. kwargs flow to the source (e.g.
        ``timestamp_column=..., watermark=...`` for incremental mode)."""
        source = self._sources[source_id]
        return retry_with_backoff(
            lambda: source.extract(self.spark, **kwargs),
            max_retries=self.max_retries,
            retry_delay=self.retry_delay,
        )

    # -- validate ---------------------------------------------------------
    def validate(self, df: DataFrame, table_name: str) -> ValidationReport:
        """Schema + rules + profile in one aggregate scan."""
        return self._validator.validate(df, table_name)

    def quality_gate(self, report: ValidationReport) -> bool:
        return self._validator.quality_gate(report)

    # -- load -------------------------------------------------------------
    def load(
        self, df: DataFrame, target_table: str, mode: str = "append"
    ) -> LoadResult:
        """Write ``df``; ``rows_loaded`` is counted by an ``Observation``
        riding the write, so the input is scanned once."""
        obs = Observation()
        result = self._sink.load(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            target_table, mode=mode, count_rows=False,
        )
        if result.success:
            result.rows_loaded = obs.get["rows"]
        return result

    # -- end-to-end -------------------------------------------------------
    def run_once(
        self,
        source_id: str,
        table_name: str,
        target_table: str | None = None,
        mode: str = "append",
        fail_on_gate: bool = False,
        **extract_kwargs: Any,
    ) -> tuple[ValidationReport, LoadResult | None]:
        """One detect-gated ingestion pass for a single source: skip if the
        probe reports no changes (reference skip-if-no-changes,
        operators.py:74-80), else extract → validate → gate → load.

        If a step raises or the load reports failure, the detected events'
        watermark advances are undone before returning or re-raising."""
        events: list[ChangeEvent] = []
        if source_id in self._detector._sources:
            events = self.detect().get(source_id, [])
            if not events:  # skip-if-no-changes: empty report, no load
                return ValidationReport(table_name=table_name, data_quality_score=1.0), None
        try:
            df = self.extract(source_id, **extract_kwargs)
            report = self.validate(df, table_name)
            if not self.quality_gate(report):
                if fail_on_gate:
                    raise ValueError(
                        f"quality gate failed for {table_name}: "
                        f"score={report.data_quality_score}"
                    )
                df = self._validator.invalid_row_filter(df)
            result = self.load(df, target_table or table_name, mode=mode)
        except BaseException:
            _undo(events)
            raise
        if not result.success:
            _undo(events)
        return report, result


def _undo(events: list[ChangeEvent]) -> None:
    """Revert the events' watermark advances, newest first."""
    for e in reversed(events):
        if e.undo is not None:
            e.undo()
