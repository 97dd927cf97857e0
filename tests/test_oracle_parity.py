"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at the same sf,
compare row counts + values (columns sorted by name, rows sorted).
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df):
    """Sort columns by name, then rows by all values — order-insensitive."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _pyval(v):
    """numpy scalar → plain Python, preserving the int/float distinction.

    The driver hashes value *representations*, so Spark int64 99111 vs
    DuckDB HUGEINT→float64 99111.0 is a mismatch (the round-1 red cell).
    A float()-coercing comparison hides exactly that class of bug.
    """
    item = getattr(v, "item", None)
    return item() if callable(item) else v


def _cell_equal(a, b):
    import pandas as pd

    a, b = _pyval(a), _pyval(b)
    if a is None and b is None:
        return True
    # NULL timestamps surface as pd.NaT in BOTH engines' pandas frames
    # (identical representation at the driver); only the exact NaT/NaT
    # pair is equated — a None-vs-NaT cross keeps failing, as it would
    # serialize differently
    if a is pd.NaT and b is pd.NaT:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, float) != isinstance(b, float):
        return False  # int vs float representation — driver hash mismatch
    return a == b


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def make_views(con, tables, sf_dir=SF_DIR):
    """Register the named parquet tables as DuckDB views — the shared
    fixture body for every parity test module."""
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def assert_frames_match(spark_pdf, duck_pdf, name):
    """The driver's exact comparison: row count, column set, then every
    value (int/float representation preserved). One definition — the
    registry gate below and the registry-ready plan modules' parity
    tests all assert through it, so the contract cannot drift."""
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col], d[col])):
            assert _cell_equal(a, b), (
                f"{name}: value mismatch col={col} row={i}: spark={a!r} duck={b!r}"
            )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, ddb, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_every_query_has_entry_or_rows(spark):
    """queries() without an oracle still must run and return a DataFrame."""
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, f"{name} failed to execute"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_registry_has_every_pair_once():
    """Both registries name the same 174 queries, so a query dropped
    from both sides cannot pass unnoticed."""
    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) == 174


def test_registry_rejects_a_name_defined_twice():
    """Two plan modules defining one name is an error, not a silent
    shadowing of the earlier definition."""
    from types import SimpleNamespace

    a = SimpleNamespace(__name__="plans.a", QUERIES={"q": 1, "a_only": 2})
    b = SimpleNamespace(__name__="plans.b", QUERIES={"q": 3})
    with pytest.raises(ValueError, match="'q' is defined by both plans.a and plans.b"):
        entrymod.merge_registry((a, b), "QUERIES")
    assert entrymod.merge_registry((a,), "QUERIES") == {"q": 1, "a_only": 2}
