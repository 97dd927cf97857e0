"""Single-pass validation / profiling engine.

Re-expresses the reference's rule engine, schema checks, profiler and
quality score (reference: src/ingestion/validators.py:118-477) as ONE
compiled aggregation plan. The reference scans the frame once per rule and
once per profile stat (N passes); here every violation count, constraint
count and profile statistic is an aggregate expression in a single
``df.agg(...)`` — one job, one scan, map-side partial aggregation, no
shuffle beyond the final single-row reduce. At 100 TB that is the
difference between one pass over the table and dozens.

Semantics parity notes (each deliberate, each cited):

* ``not_null`` counts nulls; ``range``/``length``/``pattern``/
  ``allowed_values`` skip nulls (validators.py:312-340 — pandas NaN
  comparisons are False and ``.dropna()`` is explicit).
* ``pattern`` uses ``re.match`` (anchored-at-start) in the reference
  (validators.py:334): we compile it as ``rlike('^(?:pat)')``.
* type conformance uses the coerce-to-null delta trick
  (validators.py:225-236) via ``try_cast`` / ``try_to_timestamp``.
* boolean lexicon {true,false,1,0,yes,no,t,f,y,n}, case-insensitive
  (validators.py:237-240).
* uniqueness counts occurrences beyond the first — ``count - distinct``
  (validators.py:193-216); null keys are excluded from uniqueness (a
  documented deviation: pandas treats NaN==NaN as duplicate).
* quality score = ``max(0, 1 - Σ(affected×weight)/(rows×ncols))`` with
  weights error=1.0 / warning=0.5 / info=0.1, rounded to 3dp
  (validators.py:392-412).

Scale switch: ``exact=False`` swaps the profile's ``unique_count`` to
``approx_count_distinct`` (HLL++) and its ``median`` to
``percentile_approx`` for the 100 TB path (SURVEY.md §4). Both are plain
partial aggregates, so the plan loses the Expand (one projection per
exact distinct column) and its extra exchange. Schema uniqueness/PK
constraint counts stay exact ``count_distinct`` either way: they are
violation counts, and the quality score and gate read them.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import functions as FX
from ..schemas import DataType, SchemaDefinition


class Severity(Enum):
    ERROR = "error"
    WARNING = "warning"
    INFO = "info"


@dataclass
class ValidationRule:
    """One declarative rule (reference: validators.py:37-46)."""

    name: str
    rule_type: str  # not_null | range | length | pattern | allowed_values | custom
    column: str
    severity: Severity = Severity.ERROR
    parameters: dict[str, Any] = field(default_factory=dict)
    enabled: bool = True


@dataclass
class ValidationReport:
    """Mirror of the reference's report (validators.py:59-70)."""

    table_name: str
    total_rows: int = 0
    errors: list[dict[str, Any]] = field(default_factory=list)
    warnings: list[dict[str, Any]] = field(default_factory=list)
    info: list[dict[str, Any]] = field(default_factory=list)
    column_stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    data_quality_score: float = 0.0
    rules_executed: int = 0

    @property
    def is_valid(self) -> bool:
        return len(self.errors) == 0


# ---------------------------------------------------------------------------
# violation-condition builders: rule → boolean Column (True = violation)
# ---------------------------------------------------------------------------


def _cond_not_null(c: Column, p: dict) -> Column:
    return c.isNull()


def _cond_range(c: Column, p: dict) -> Column:
    lo, hi = p.get("min"), p.get("max")
    if lo is None or hi is None:
        return F.lit(False)
    return c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))


def _cond_length(c: Column, p: dict) -> Column:
    lo = p.get("min", 0)
    hi = p.get("max")
    ln = F.length(c.cast("string"))
    cond = ln < F.lit(lo)
    if hi is not None:
        cond = cond | (ln > F.lit(hi))
    return c.isNotNull() & cond


def _cond_pattern(c: Column, p: dict) -> Column:
    pattern = p.get("pattern")
    if not pattern:
        return F.lit(False)
    # re.match anchors at the start only (validators.py:334)
    return c.isNotNull() & ~c.cast("string").rlike(f"^(?:{pattern})")


def _cond_allowed_values(c: Column, p: dict) -> Column:
    values = p.get("values", [])
    return c.isNotNull() & ~c.isin(*values)


def _cond_business_hours(c: Column, p: dict) -> Column:
    """Custom rule (validators.py:442-459): hour outside [start,end);
    unparseable non-null values count as violations."""
    start, end = p.get("start_hour", 9), p.get("end_hour", 17)
    ts = F.try_to_timestamp(c.cast("string"))
    return c.isNotNull() & (
        ts.isNull() | (F.hour(ts) < F.lit(start)) | (F.hour(ts) >= F.lit(end))
    )


def _cond_future_date(c: Column, p: dict) -> Column:
    """Custom rule (validators.py:461-477): date strictly after 'today';
    unparseable non-null values count as violations. ``as_of`` makes the
    check deterministic for tests/oracles; default is current_date()."""
    as_of = p.get("as_of")
    today = F.lit(as_of).cast("date") if as_of else F.current_date()
    ts = F.try_to_timestamp(c.cast("string"))
    return c.isNotNull() & (ts.isNull() | (ts.cast("date") > today))


#: name-dispatched custom validators (reference: validators.py:342-349) —
#: extensible the same way, but each returns a native expression, not a UDF.
CUSTOM_VALIDATORS: dict[str, Callable[[Column, dict], Column]] = {
    "business_hours": _cond_business_hours,
    "future_date": _cond_future_date,
}


def rule_condition(rule: ValidationRule) -> Column:
    c = F.col(rule.column)
    p = rule.parameters
    builders: dict[str, Callable[[Column, dict], Column]] = {
        "not_null": _cond_not_null,
        "range": _cond_range,
        "length": _cond_length,
        "pattern": _cond_pattern,
        "allowed_values": _cond_allowed_values,
    }
    if rule.rule_type == "custom":
        fn = CUSTOM_VALIDATORS.get(p.get("function", ""))
        if fn is None:
            raise ValueError(f"unknown custom validator: {p.get('function')}")
        return fn(c, p)
    if rule.rule_type not in builders:
        raise ValueError(f"unknown rule type: {rule.rule_type}")
    return builders[rule.rule_type](c, p)


def _count_if(cond: Column) -> Column:
    # count(when(cond, 1)) → 0 on empty input (sum(when) would be null)
    return F.count(F.when(cond, F.lit(1)))


# ---------------------------------------------------------------------------
# type-conformance condition (reference: validators.py:218-272)
# ---------------------------------------------------------------------------


def type_conformance_condition(c: Column, expected: DataType) -> Column | None:
    """Boolean violation condition for a declared type; None = always valid."""
    if expected in (DataType.STRING, DataType.ARRAY_FLOAT, DataType.BINARY):
        return None  # everything casts to string (validators.py:224)
    if expected in (DataType.INTEGER, DataType.FLOAT):
        return FX.coerce_fails(c, "double")
    if expected is DataType.BOOLEAN:
        return c.isNotNull() & ~FX.is_lexical_boolean(c)
    if expected in (DataType.DATE, DataType.DATETIME):
        return FX.datetime_parse_fails(c)
    if expected is DataType.EMAIL:
        return c.isNotNull() & ~FX.is_valid_email(c.cast("string"))
    if expected is DataType.URL:
        return c.isNotNull() & ~FX.is_valid_url(c.cast("string"))
    if expected is DataType.JSON:
        return c.isNotNull() & ~FX.is_valid_json(c)
    return None


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


class ValidationEngine:
    """Compile schema + rules + profile into one aggregation plan.

    ``compile_plan`` returns a lazy single-row DataFrame of every metric
    (suitable for oracle comparison); ``validate`` executes it and folds
    the row into a ``ValidationReport`` with the reference's exact scoring.
    """

    #: quality gate thresholds (reference: validators.py:80-84)
    QUALITY_THRESHOLDS = {
        "min_data_quality_score": 0.8,
        "max_error_rate": 0.05,
        "max_null_rate": 0.1,
    }

    def __init__(
        self,
        schemas: dict[str, SchemaDefinition] | None = None,
        rules: list[ValidationRule] | None = None,
        enable_profiling: bool = True,
        exact: bool = True,
    ) -> None:
        self.schemas = schemas or {}
        self.rules = rules or []
        self.enable_profiling = enable_profiling
        self.exact = exact

    # -- expression assembly -------------------------------------------------

    def _distinct(self, c: Column) -> Column:
        """Profile ``unique_count``; constraint counts use exact
        ``count_distinct`` regardless of ``exact``."""
        return F.count_distinct(c) if self.exact else F.approx_count_distinct(c)

    def _median(self, c: Column) -> Column:
        return F.median(c) if self.exact else F.percentile_approx(c, 0.5)

    def schema_check_exprs(
        self, df: DataFrame, schema: SchemaDefinition
    ) -> dict[str, Column]:
        """Constraint counts (reference: validators.py:154-216). All are
        plain aggregates — uniqueness/PK use count-minus-distinct so the
        whole check rides the same single scan. They are exact whatever
        ``exact`` says: a sketch could report a phantom violation."""
        present = set(df.columns)
        exprs: dict[str, Column] = {}
        for col, expected in schema.columns.items():
            if col not in present:
                continue
            cond = type_conformance_condition(F.col(col), expected)
            if cond is not None:
                exprs[f"type_invalid__{col}"] = _count_if(cond)
        non_nullable = set(schema.required_columns) - set(schema.nullable_columns)
        for col in sorted(non_nullable):
            if col in present:
                exprs[f"null_violation__{col}"] = _count_if(F.col(col).isNull())
        for col in schema.unique_columns:
            if col in present:
                exprs[f"dup_violation__{col}"] = F.count(F.col(col)) - F.count_distinct(
                    F.col(col)
                )
        pk = [c for c in schema.primary_key if c in present]
        if pk and len(pk) == len(schema.primary_key):
            exprs["pk_violation"] = F.count(F.lit(1)) - F.count_distinct(
                F.struct(*[F.col(c) for c in pk])
            )
        return exprs

    def rule_exprs(self, df: DataFrame) -> dict[str, Column]:
        present = set(df.columns)
        return {
            f"rule__{r.name}": _count_if(rule_condition(r))
            for r in self.rules
            if r.enabled and r.column in present
        }

    def profile_exprs(self, df: DataFrame) -> dict[str, Column]:
        """Column profiling (reference: validators.py:356-390) as aggregates:
        null/distinct counts for all columns, numeric stats (mean, median,
        std, min, max, zero/negative counts), string stats (length
        aggregates over non-null values, empty-string count)."""
        n = F.count(F.lit(1))
        exprs: dict[str, Column] = {}
        for f_ in df.schema.fields:
            c = F.col(f_.name)
            p = f"profile__{f_.name}"
            exprs[f"{p}__null_count"] = _count_if(c.isNull())
            exprs[f"{p}__null_pct"] = F.try_divide(_count_if(c.isNull()), n)
            exprs[f"{p}__unique_count"] = self._distinct(c)
            if isinstance(f_.dataType, _NUMERIC_TYPES):
                exprs[f"{p}__mean"] = F.avg(c)
                exprs[f"{p}__median"] = self._median(c)
                exprs[f"{p}__std"] = F.stddev_samp(c)
                exprs[f"{p}__min"] = F.min(c)
                exprs[f"{p}__max"] = F.max(c)
                exprs[f"{p}__zero_count"] = _count_if(c == 0)
                exprs[f"{p}__negative_count"] = _count_if(c < 0)
            elif isinstance(f_.dataType, T.StringType):
                ln = F.length(c)
                exprs[f"{p}__avg_length"] = F.avg(ln)
                exprs[f"{p}__min_length"] = F.min(ln)
                exprs[f"{p}__max_length"] = F.max(ln)
                exprs[f"{p}__empty_string_count"] = _count_if(c == "")
        return exprs

    def compile_plan(self, df: DataFrame, table_name: str) -> DataFrame:
        """The whole validation as ONE lazy single-row aggregate."""
        exprs: dict[str, Column] = {"total_rows": F.count(F.lit(1))}
        schema = self.schemas.get(table_name)
        if schema is not None:
            exprs.update(self.schema_check_exprs(df, schema))
        exprs.update(self.rule_exprs(df))
        if self.enable_profiling:
            exprs.update(self.profile_exprs(df))
        return df.agg(*[e.alias(name) for name, e in exprs.items()])

    # -- execution + report folding -------------------------------------------

    def validate(self, df: DataFrame, table_name: str) -> ValidationReport:
        report = ValidationReport(table_name=table_name)
        row = self.compile_plan(df, table_name).first().asDict()
        report.total_rows = int(row.pop("total_rows"))
        if report.total_rows == 0:
            report.warnings.append(
                {"rule": "empty_dataset", "message": "Dataset is empty",
                 "column": None, "affected_rows": 0}
            )
            return report

        rules_by_name = {r.name: r for r in self.rules}
        for key, value in row.items():
            if key.startswith("profile__"):
                _, col, stat = key.split("__", 2)
                report.column_stats.setdefault(col, {})[stat] = value
                continue
            count = int(value or 0)
            if count <= 0:
                continue
            if key.startswith("rule__"):
                rule = rules_by_name[key[len("rule__"):]]
                bucket = {
                    Severity.ERROR: report.errors,
                    Severity.WARNING: report.warnings,
                    Severity.INFO: report.info,
                }[rule.severity]
                bucket.append(
                    {"rule": rule.name, "message": f"{count} violations",
                     "column": rule.column, "affected_rows": count}
                )
            else:  # schema constraint violations are always errors
                name, _, col = key.partition("__")
                report.errors.append(
                    {"rule": name, "message": f"{count} violations",
                     "column": col or None, "affected_rows": count}
                )

        # missing required columns is a metadata-only check (validators.py:158-166)
        schema = self.schemas.get(table_name)
        if schema is not None:
            missing = set(schema.required_columns) - set(df.columns)
            if missing:
                report.errors.append(
                    {"rule": "missing_required_columns",
                     "message": f"Missing required columns: {sorted(missing)}",
                     "column": None, "affected_rows": report.total_rows}
                )

        report.rules_executed = len([r for r in self.rules if r.enabled])
        report.data_quality_score = self._quality_score(report)
        return report

    def _quality_score(self, report: ValidationReport) -> float:
        """Exact reference formula (validators.py:392-412)."""
        if report.total_rows == 0:
            return 0.0
        total_issues = (
            sum(e["affected_rows"] for e in report.errors) * 1.0
            + sum(w["affected_rows"] for w in report.warnings) * 0.5
            + sum(i["affected_rows"] for i in report.info) * 0.1
        )
        denom = (
            report.total_rows * len(report.column_stats)
            if report.column_stats
            else report.total_rows
        )
        return round(max(0.0, 1.0 - total_issues / denom), 3)

    def quality_gate(self, report: ValidationReport) -> bool:
        """valid ⟺ no errors AND score ≥ 0.8 (validators.py:414-439)."""
        return report.is_valid and (
            report.data_quality_score
            >= self.QUALITY_THRESHOLDS["min_data_quality_score"]
        )

    def invalid_row_filter(self, df: DataFrame) -> DataFrame:
        """Drop rows violating any enabled rule — the full version of the
        reference's simplified ``dropna()`` filter (operators.py:132-136):
        keep rows where the conjunction of rule predicates holds."""
        present = set(df.columns)
        conds = [
            rule_condition(r)
            for r in self.rules
            if r.enabled and r.column in present
        ]
        if not conds:
            return df
        bad = conds[0]
        for c in conds[1:]:
            bad = bad | c
        return df.where(~F.coalesce(bad, F.lit(False)))
