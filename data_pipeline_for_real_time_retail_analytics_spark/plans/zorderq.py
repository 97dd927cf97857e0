"""Z-order clustering showcase queries (registry-ready for round 7).

Two driver-gate queries over operators/zorder.py:

* ``zorder_values`` — the Morton code itself, computed for every order
  over (o_custkey, epoch-day of o_orderdate). Exact BIGINT bucket-width
  rescale + bit interleave, so DuckDB reproduces it bit-for-bit: the
  oracle below is generated from the SAME width and bit-position
  formulas the Spark expression tree uses (one constant, two
  renderings).
* ``zordered_orders`` — the OPTIMIZE ZORDER walk: scatter a projection
  of orders into many hash-partitioned files (the worst layout), then
  ``zorder_compact`` to a few Morton-clustered files. Row content is
  invariant under the rewrite (the DuckDB-checked contract); the
  file-count and per-file rectangle-pruning effects are pinned in
  tests/test_zorder.py.

NOT registered in ``__spark_entry__`` this round: the r6 front window
is exactly consumed (30 never-green + 20 guard-mandated re-proofs) and
new entries are never-green by definition. tests/test_zorder.py runs
the driver-identical parity comparison locally; flip these in r7
alongside the spilled analytics cohort (NOTES.md handoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.zorder import with_z_value, zorder_compact
from ..sources import load_table
from .shared import work_dir

#: per-column resolution of the Morton code (2 cols × 8 bits = 16-bit z)
Z_BITS = 8
#: scatter width (small-file problem) → target files for the layout walk
SCATTER_FILES = 32
ZORDER_FILES = 4


def _orders_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, o_custkey, o_day): the two integral cluster
    dimensions — customer and epoch day. The timestamp→date cast is
    stable because load_table pins the session to UTC."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("o_day"),
    )


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's Morton code over (o_custkey, o_day)."""
    grid = _orders_grid(spark, sf_dir)
    return (
        with_z_value(grid, ["o_custkey", "o_day"], bits=Z_BITS)
        .select("o_orderkey", "z_value")
        .orderBy("o_orderkey")
    )


def q_zordered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scatter → OPTIMIZE ZORDER → read back; content must be exactly
    the input projection (pure layout, like q_compacted_corpus)."""
    grid = _orders_grid(spark, sf_dir)
    scattered = work_dir(spark, sf_dir, "zorder_src")
    clustered = work_dir(spark, sf_dir, "zorder_dest")
    # hash-scatter on the non-cluster key: every file holds every
    # customer and every day — nothing prunes before the rewrite
    grid.repartition(SCATTER_FILES, "o_orderkey").write.mode(
        "overwrite"
    ).parquet(scattered)
    out = zorder_compact(
        spark,
        scattered,
        clustered,
        zorder_cols=["o_custkey", "o_day"],
        bits=Z_BITS,
        target_files=ZORDER_FILES,
    )
    return out.orderBy("o_orderkey")


def _interleave_sql(scaled: list[str], bits: int) -> str:
    """The oracle-side rendering of operators.zorder._interleave: bit
    ``i`` of column ``j`` lands at ``i*ncols + (ncols-1-j)`` — same
    formula, disjoint bits, ``+`` ≡ ``|``."""
    ncols = len(scaled)
    return " + ".join(
        f"((({name} >> {i}) & 1) << {i * ncols + (ncols - 1 - j)})"
        for i in range(bits)
        for j, name in enumerate(scaled)
    )


_GRID_SQL = """
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS c,
           CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
    FROM orders
"""

_SCALED_SQL = f"""
    WITH base AS ({_GRID_SQL}),
    s AS (
        SELECT MIN(c) AS cmin, MAX(c) AS cmax,
               MIN(d) AS dmin, MAX(d) AS dmax
        FROM base
    ),
    scaled AS (
        SELECT o_orderkey,
               (c - cmin) // ((cmax - cmin) // {1 << Z_BITS} + 1) AS sc,
               (d - dmin) // ((dmax - dmin) // {1 << Z_BITS} + 1) AS sd
        FROM base, s
    )
"""

ORACLES: dict[str, str] = {
    "zorder_values": f"""
        {_SCALED_SQL}
        SELECT o_orderkey,
               {_interleave_sql(["sc", "sd"], Z_BITS)} AS z_value
        FROM scaled
        ORDER BY o_orderkey
    """,
    "zordered_orders": """
        SELECT o_orderkey,
               o_custkey,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS o_day
        FROM orders
        ORDER BY o_orderkey
    """,
}

QUERIES = {
    "zorder_values": q_zorder_values,
    "zordered_orders": q_zordered_orders,
}
