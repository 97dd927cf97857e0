"""Hilbert-curve layout queries (operators/hilbert.py).

``hilbert_values``: the Hilbert index for every order over
(o_custkey, epoch-day) — the exact twin of the registered
``zorder_values``, same guarded bucket-width rescale, different curve.
The oracle renders the SAME per-plane update rules as chained CTEs
(one rendering per engine of one formula — the unrolled-PageRank
oracle discipline), so the index matches bit-for-bit.

``curve_locality``: WHY a deployment would pick one curve over the
other, measured on real data through the driver gate: walk each curve
in order and sum the Manhattan distance between consecutive cells.
The Hilbert walk's defining unit-step property (every consecutive
pair of grid cells is 4-adjacent — pinned over the full grid in
tests/test_hilbertq.py) means tighter file bounding boxes than the
Morton walk's power-of-two diagonal jumps; this query quantifies the
contrast as two exact-integer rows. The walk is partitioned into 16
curve-contiguous blocks (top 4 index bits) so the comparison windows
are DISTRIBUTED — no global single-task sort; cross-block steps are
excluded identically for both curves, so the contrast is fair. At
100 TB this is the shape a layout audit actually runs: per-file (=
per-curve-range) locality stats, never a global ordered walk.

Scale: one min/max single-row aggregate broadcast onto the grid,
map-side bit arithmetic for BOTH indexes in the same projection, one
shuffle for the 32 (curve, block) windows, bins-bounded aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.hilbert import hilbert_steps, with_hilbert_value
from ..operators.zorder import _interleave
from .zorderq import _interleave_sql, _orders_grid

#: per-dimension resolution — matches the registered z-order family
H_BITS = 8
#: locality walk: partition each curve into 2^BLOCK_BITS contiguous blocks
BLOCK_BITS = 4


def q_hilbert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's Hilbert index over (o_custkey, o_day)."""
    grid = _orders_grid(spark, sf_dir)
    return (
        with_hilbert_value(grid, ["o_custkey", "o_day"], bits=H_BITS)
        .select("o_orderkey", "h_value")
        .orderBy("o_orderkey")
    )


def _scaled(grid: DataFrame) -> DataFrame:
    """(o_orderkey, sc, sd): both dims rescaled to [0, 2^H_BITS) with
    the exact bucket-width division (the zorder/hilbert rescale; spans
    here are generator-bounded so the overflow guard is not re-rendered)."""
    stats = grid.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("o_day").alias("dmin"),
        F.max("o_day").alias("dmax"),
    )
    return grid.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.expr(
            f"(CAST(o_custkey AS BIGINT) - cmin) div "
            f"((cmax - cmin) div {1 << H_BITS} + 1)"
        ).alias("sc"),
        F.expr(
            f"(o_day - dmin) div ((dmax - dmin) div {1 << H_BITS} + 1)"
        ).alias("sd"),
    )


def q_curve_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-block Manhattan step totals for both curve walks
    over the same scaled grid: (curve, n_steps, sum_step,
    avg_step_milli) — the Hilbert row must come out tighter."""
    sc, sd = F.col("sc"), F.col("sd")
    cur = _scaled(_orders_grid(spark, sf_dir)).withColumn(
        "__hd", F.lit(0).cast("long")
    )
    # transform on COPIES so sc/sd stay available for the step metric
    cur = cur.withColumns({"__hx": sc, "__hy": sd})
    for d_inc, nx, ny in hilbert_steps(F.col("__hx"), F.col("__hy"), H_BITS):
        cur = cur.withColumns(
            {"__hd": F.col("__hd") + d_inc, "__hx": nx, "__hy": ny}
        )
    # referenced twice by the two-curve stack below → localCheckpoint
    # (the shared-frames rule; without it the scan + plane transforms
    # execute once per curve — audited 4 FileScans vs 2)
    both = cur.select(
        "o_orderkey",
        "sc",
        "sd",
        F.col("__hd").alias("h"),
        _interleave([sc, sd], H_BITS).cast("long").alias("z"),
    ).localCheckpoint()
    stacked = both.select(
        "o_orderkey", "sc", "sd", F.lit("hilbert").alias("curve"),
        F.col("h").alias("v"),
    ).unionByName(
        both.select(
            "o_orderkey", "sc", "sd", F.lit("zorder").alias("curve"),
            F.col("z").alias("v"),
        )
    )
    shift = 2 * H_BITS - BLOCK_BITS
    w = Window.partitionBy(
        "curve", F.shiftright(F.col("v"), shift)
    ).orderBy("v", "o_orderkey")
    steps = stacked.select(
        "curve",
        (
            F.abs(sc - F.lag("sc").over(w)) + F.abs(sd - F.lag("sd").over(w))
        ).alias("step"),
    ).where(F.col("step").isNotNull())
    return (
        steps.groupBy("curve")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.sum("step").cast("long").alias("sum_step"),
        )
        .select(
            "curve",
            "n_steps",
            "sum_step",
            F.expr("(1000 * sum_step) DIV n_steps").alias("avg_step_milli"),
        )
        .orderBy("curve")
    )


QUERIES = {
    "hilbert_values": q_hilbert_values,
    "curve_locality": q_curve_locality,
}


def _hilbert_ctes(bits: int, first: str) -> str:
    """Chained per-plane CTEs it0..it{bits-1} carrying (o_orderkey, sc,
    sd, x, y, d) — the oracle rendering of operators.hilbert's update
    rules."""
    n = 1 << bits
    ctes = []
    prev = first
    for i, k in enumerate(range(bits - 1, -1, -1)):
        s = 1 << k
        rx = f"((x >> {k}) & 1)"
        ry = f"((y >> {k}) & 1)"
        digit = f"CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - {ry} END"
        new_x = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {n - 1} - y ELSE y END) "
            f"ELSE x END"
        )
        new_y = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {n - 1} - x ELSE x END) "
            f"ELSE y END"
        )
        ctes.append(
            f"it{i} AS (SELECT o_orderkey, sc, sd, "
            f"d + {s * s} * ({digit}) AS d, "
            f"{new_x} AS x, {new_y} AS y FROM {prev})"
        )
        prev = f"it{i}"
    return ",\n        ".join(ctes)


_SCALED_SQL = f"""base AS (
            SELECT o_orderkey,
                   CAST(o_custkey AS BIGINT) AS c,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT) AS dd
            FROM orders
        ),
        st AS (
            SELECT MIN(c) AS cmin, MAX(c) AS cmax,
                   MIN(dd) AS dmin, MAX(dd) AS dmax
            FROM base
        ),
        scaled AS (
            SELECT o_orderkey,
                   (c - cmin) // ((cmax - cmin) // {1 << H_BITS} + 1) AS sc,
                   (dd - dmin) // ((dmax - dmin) // {1 << H_BITS} + 1) AS sd
            FROM base, st
        ),
        seed AS (
            SELECT o_orderkey, sc, sd, sc AS x, sd AS y, 0 AS d FROM scaled
        )"""

_LAST_IT = f"it{H_BITS - 1}"

ORACLES: dict[str, str] = {
    "hilbert_values": f"""
        WITH {_SCALED_SQL},
        {_hilbert_ctes(H_BITS, "seed")}
        SELECT o_orderkey, CAST(d AS BIGINT) AS h_value
        FROM {_LAST_IT} ORDER BY o_orderkey
    """,
    "curve_locality": f"""
        WITH {_SCALED_SQL},
        {_hilbert_ctes(H_BITS, "seed")},
        both_curves AS (
            SELECT o_orderkey, sc, sd, 'hilbert' AS curve,
                   CAST(d AS BIGINT) AS v
            FROM {_LAST_IT}
            UNION ALL
            SELECT o_orderkey, sc, sd, 'zorder' AS curve,
                   CAST({_interleave_sql(["sc", "sd"], H_BITS)} AS BIGINT) AS v
            FROM scaled
        ),
        lagged AS (
            SELECT curve,
                   abs(sc - lag(sc) OVER w) + abs(sd - lag(sd) OVER w)
                       AS step
            FROM both_curves
            WINDOW w AS (PARTITION BY curve, v >> {2 * H_BITS - BLOCK_BITS}
                         ORDER BY v, o_orderkey)
        )
        SELECT curve,
               CAST(COUNT(*) AS BIGINT) AS n_steps,
               CAST(SUM(step) AS BIGINT) AS sum_step,
               CAST((1000 * SUM(step)) // COUNT(*) AS BIGINT)
                   AS avg_step_milli
        FROM lagged WHERE step IS NOT NULL
        GROUP BY curve ORDER BY curve
    """,
}
