"""Validation-engine semantics tests.

Replicates the reference's validator unit tests (reference:
tests/unit/test_validators.py:17-479) — same fixtures, same expected
violation counts — against the single-pass Spark plan.
"""

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
    Severity,
    ValidationEngine,
    ValidationRule,
)
from data_pipeline_for_real_time_retail_analytics_spark.schemas import (
    DataType,
    SchemaDefinition,
)

CLEAN_ROWS = [
    (1, "Alice", "alice@test.com", 25.0, 50000.0, "true", "2023-01-01"),
    (2, "Bob", "bob@test.com", 30.0, 60000.0, "true", "2023-01-02"),
    (3, "Charlie", "charlie@test.com", 35.0, 70000.0, "false", "2023-01-03"),
    (4, "David", "david@test.com", 40.0, 80000.0, "true", "2023-01-04"),
    (5, "Eve", "eve@test.com", 45.0, 90000.0, "false", "2023-01-05"),
]

# reference fixture tests/unit/test_validators.py:31-42 (mixed-type columns
# land as strings in a typed engine)
PROBLEM_ROWS = [
    (1, "Alice", "alice@test.com", 25.0, 50000.0, "true", "2023-01-01"),
    (2, None, "invalid", -5.0, float("inf"), "yes", "2025-12-31"),
    (2, "Charlie", None, 150.0, -1000.0, "0", "invalid-date"),
    (4, "", "david@test.com", 40.0, 80000.0, "1", "2023-01-04"),
    (None, "Eve", "not-an-email", None, None, None, None),
]

COLUMNS = "id long, name string, email string, age double, salary double, is_active string, created_at string"

RULES = [
    ValidationRule("id_not_null", "not_null", "id", Severity.ERROR),
    ValidationRule("age_range", "range", "age", Severity.WARNING, {"min": 0, "max": 120}),
    ValidationRule(
        "email_pattern", "pattern", "email", Severity.ERROR,
        {"pattern": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"},
    ),
    ValidationRule("name_length", "length", "name", Severity.WARNING, {"min": 1, "max": 50}),
    ValidationRule(
        "status_allowed", "allowed_values", "is_active", Severity.ERROR,
        {"values": ["true", "false", "1", "0", "yes", "no"]},
    ),
]

SCHEMA = SchemaDefinition(
    "test_table",
    columns={
        "id": DataType.INTEGER,
        "name": DataType.STRING,
        "email": DataType.EMAIL,
        "age": DataType.INTEGER,
        "salary": DataType.FLOAT,
        "is_active": DataType.BOOLEAN,
        "created_at": DataType.DATETIME,
    },
    required_columns=["id", "name", "email"],
    nullable_columns=["salary"],
    unique_columns=["id", "email"],
    primary_key=["id"],
)


@pytest.fixture(scope="module")
def engine():
    return ValidationEngine(schemas={"test_table": SCHEMA}, rules=RULES)


def _counts(engine, df):
    return engine.compile_plan(df, "test_table").first().asDict()


def test_clean_data_has_no_violations(spark, engine):
    df = spark.createDataFrame(CLEAN_ROWS, COLUMNS)
    report = engine.validate(df, "test_table")
    assert report.is_valid
    assert report.total_rows == 5
    assert report.data_quality_score == 1.0


def test_rule_violation_counts(spark, engine):
    df = spark.createDataFrame(PROBLEM_ROWS, COLUMNS)
    row = _counts(engine, df)
    assert row["rule__id_not_null"] == 1        # one null id
    assert row["rule__age_range"] == 2          # -5 and 150 (null skipped)
    assert row["rule__email_pattern"] == 2      # 'invalid', 'not-an-email' (null skipped)
    assert row["rule__name_length"] == 1        # '' (null skipped)
    assert row["rule__status_allowed"] == 0     # all non-null values allowed


def test_schema_constraint_counts(spark, engine):
    df = spark.createDataFrame(PROBLEM_ROWS, COLUMNS)
    row = _counts(engine, df)
    assert row["dup_violation__id"] == 1        # id=2 twice
    assert row["dup_violation__email"] == 0     # nulls excluded from uniqueness
    assert row["pk_violation"] == 1
    assert row["null_violation__id"] == 1
    assert row["null_violation__name"] == 1
    assert row["null_violation__email"] == 1
    assert row["type_invalid__email"] == 2      # email semantic type
    assert row["type_invalid__created_at"] == 1  # 'invalid-date'
    assert row["type_invalid__is_active"] == 0  # lexicon accepts true/yes/0/1


def test_missing_required_columns(spark, engine):
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    report = engine.validate(df, "test_table")
    assert any(e["rule"] == "missing_required_columns" for e in report.errors)


def test_profiling_stats(spark, engine):
    df = spark.createDataFrame(CLEAN_ROWS, COLUMNS)
    report = engine.validate(df, "test_table")
    age = report.column_stats["age"]
    assert age["null_count"] == 0
    assert age["unique_count"] == 5
    assert age["mean"] == 35.0
    assert age["median"] == 35.0
    assert age["min"] == 25 and age["max"] == 45
    assert age["zero_count"] == 0 and age["negative_count"] == 0
    name = report.column_stats["name"]
    assert name["min_length"] == 3 and name["max_length"] == 7
    assert name["empty_string_count"] == 0


def test_quality_score_formula(spark, engine):
    df = spark.createDataFrame(PROBLEM_ROWS, COLUMNS)
    report = engine.validate(df, "test_table")
    # exact reference formula: 1 - (errors*1 + warnings*0.5 + info*0.1)/(rows*ncols)
    err = sum(e["affected_rows"] for e in report.errors)
    warn = sum(w["affected_rows"] for w in report.warnings)
    info = sum(i["affected_rows"] for i in report.info)
    expected = round(max(0.0, 1.0 - (err + 0.5 * warn + 0.1 * info) / (5 * 7)), 3)
    assert report.data_quality_score == expected
    assert not report.is_valid


def test_empty_dataset_warning(spark, engine):
    df = spark.createDataFrame([], COLUMNS)
    report = engine.validate(df, "test_table")
    assert report.total_rows == 0
    assert report.warnings[0]["rule"] == "empty_dataset"
    assert report.data_quality_score == 0.0


def test_custom_business_hours(spark):
    # reference: tests/unit/test_validators.py:448-462 — 2 violations
    eng = ValidationEngine(rules=[
        ValidationRule("bh", "custom", "ts", Severity.WARNING,
                       {"function": "business_hours", "start_hour": 9, "end_hour": 17}),
    ])
    df = spark.createDataFrame(
        [("2023-01-02 10:00:00",), ("2023-01-02 08:00:00",),
         ("2023-01-02 17:30:00",), ("2023-01-02 12:00:00",), (None,)],
        "ts string",
    )
    assert eng.compile_plan(df, "t").first()["rule__bh"] == 2


def test_custom_future_date(spark):
    # reference: tests/unit/test_validators.py:464-479 — 2 violations
    eng = ValidationEngine(rules=[
        ValidationRule("fd", "custom", "d", Severity.ERROR,
                       {"function": "future_date", "as_of": "2024-06-01"}),
    ])
    df = spark.createDataFrame(
        [("2023-01-01",), ("2024-06-01",), ("2099-01-01",), ("bogus",), (None,)],
        "d string",
    )
    # 2099 future + unparseable 'bogus' = 2
    assert eng.compile_plan(df, "t").first()["rule__fd"] == 2


def test_invalid_row_filter(spark, engine):
    df = spark.createDataFrame(PROBLEM_ROWS, COLUMNS)
    kept = engine.invalid_row_filter(df)
    rows = kept.collect()
    # rows violating any rule dropped: null id, bad emails, '' name, -5/150 age
    assert all(r.id is not None for r in rows)


def test_single_pass_plan(spark, engine):
    """The whole validation must be one aggregation over one scan."""
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    eng = ValidationEngine(
        schemas={"customer": SchemaDefinition(
            "customer",
            columns={"c_custkey": DataType.INTEGER, "c_name": DataType.STRING},
            required_columns=["c_custkey"],
            unique_columns=["c_custkey"],
            primary_key=["c_custkey"],
        )},
        rules=[ValidationRule("bal", "range", "c_acctbal", Severity.WARNING,
                              {"min": -1000, "max": 11000})],
    )
    plan = eng.compile_plan(df, "customer")
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert physical.count("FileScan") == 1


# -- exact=False: sketches in the profile, exact counts everywhere else ------

_EXACT_KEYS = ("total_rows", "rule__", "dup_violation__", "pk_violation",
               "null_violation__", "type_invalid__")


def test_approx_mode_keeps_gate_inputs_exact(spark, engine):
    df = spark.createDataFrame(PROBLEM_ROWS, COLUMNS)
    approx = ValidationEngine(schemas={"test_table": SCHEMA}, rules=RULES, exact=False)
    want, got = _counts(engine, df), _counts(approx, df)
    assert set(got) == set(want)
    for key, value in want.items():
        if key.startswith(_EXACT_KEYS):
            assert got[key] == value, key
    r_exact = engine.validate(df, "test_table")
    r_approx = approx.validate(df, "test_table")
    assert r_approx.total_rows == r_exact.total_rows == 5
    assert (r_approx.errors, r_approx.warnings, r_approx.info) == (
        r_exact.errors, r_exact.warnings, r_exact.info)
    assert set(r_approx.column_stats) == set(r_exact.column_stats)
    assert r_approx.data_quality_score == r_exact.data_quality_score
    assert approx.quality_gate(r_approx) == engine.quality_gate(r_exact)


def test_approx_mode_profile_within_sketch_error(spark, engine):
    n = 100_001
    df = spark.range(n).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 7919).alias("k"),
    )
    keyed = {"t": SchemaDefinition("t", unique_columns=["x"], primary_key=["x"])}
    exact = ValidationEngine(schemas=keyed).validate(df, "t").column_stats
    approx_report = ValidationEngine(schemas=keyed, exact=False).validate(df, "t")
    approx = approx_report.column_stats
    # x is a key: the constraint counts stay exact even where a sketch of
    # 100k distinct values is not
    assert approx_report.errors == [] and approx_report.data_quality_score == 1.0
    # approx_count_distinct: HLL++ with relative standard deviation 0.05;
    # allow three of them
    for col in ("x", "k"):
        want = exact[col]["unique_count"]
        assert abs(approx[col]["unique_count"] - want) <= 0.15 * want, col
    # percentile_approx (accuracy 10000) returns a value whose rank is
    # within n / 10000 of the true median's; x equals its rank here
    assert exact["x"]["median"] == 50_000.0
    assert abs(approx["x"]["median"] - exact["x"]["median"]) <= n / 10_000
    for stat in ("mean", "min", "max", "null_count", "zero_count"):
        assert approx["x"][stat] == exact["x"][stat], stat
    # the fixture is small enough for both sketches to be exact
    fixture = spark.createDataFrame(CLEAN_ROWS, COLUMNS)
    approx_fixture = ValidationEngine(
        schemas={"test_table": SCHEMA}, rules=RULES, exact=False
    ).validate(fixture, "test_table").column_stats
    exact_fixture = engine.validate(fixture, "test_table").column_stats
    for col, stats in exact_fixture.items():
        assert approx_fixture[col]["unique_count"] == stats["unique_count"], col
        if "median" in stats:
            assert approx_fixture[col]["median"] == stats["median"], col


def test_approx_mode_plan_has_no_expand(spark, sf_dir):
    """Exact count_distinct over several columns plans an Expand (one
    projection per distinct column) plus an extra exchange; the sketch
    profile is plain partial aggregation."""
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rules = [ValidationRule("bal", "range", "c_acctbal", Severity.WARNING,
                            {"min": -1000, "max": 11000})]

    def physical(exact):
        plan = ValidationEngine(rules=rules, exact=exact).compile_plan(df, "customer")
        return plan._jdf.queryExecution().executedPlan().toString()

    assert "Expand" in physical(True)
    approx = physical(False)
    assert "Expand" not in approx
    assert approx.count("FileScan") == 1
