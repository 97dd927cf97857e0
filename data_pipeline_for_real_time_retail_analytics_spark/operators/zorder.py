"""Z-order (Morton-curve) multi-dimensional clustering.

The third scale-maintenance lever next to small-file compaction and
runtime Bloom pruning (operators/maintenance.py): range-clustering on
ONE key gives perfect file skipping on that key and none on any other,
while interleaving the bits of several keys gives good-not-perfect
skipping on EVERY key — the layout Delta Lake's ``OPTIMIZE ZORDER BY``
and Iceberg's z-ordered rewrites use for multi-predicate fact tables.
At 100 TB the choice is concrete: a (customer, day) z-ordered orders
table prunes both "one customer's history" and "one day across
customers" scans to a handful of files, where customer-range
clustering serves only the first and full-scans the second
(quantified in tests/test_zorder.py's footer-rectangle pin).

Everything here is exact BIGINT arithmetic — min/max bucket-width
rescale then bit interleave — so the computed key is engine-portable
(the DuckDB oracle in plans/zorderq.py reproduces it bit-for-bit; no
IEEE rounding in the path) and overflow-free for any value span below
2**63 (the rescale divides by a bucket width, never multiplies a
delta). Scaling uses one single-row aggregate broadcast back onto the
relation: two narrow passes, no shuffle beyond the write's own range
partitioning. Production tables with non-integral cluster keys first
map them to ints (dictionary codes, epoch days, decimal unscaled
values) — the reference keeps no comparable layout layer at all (its
storage module is an empty stub, src/storage/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["with_z_value", "zorder_compact"]


def _interleave(scaled: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits``-wide non-negative longs: bit ``i`` of
    column ``j`` lands at position ``i*ncols + (ncols-1-j)``, so the
    FIRST column takes the most significant slot of each bit group.
    Disjoint target bits make ``+`` equivalent to ``|`` — the oracle SQL
    uses the same sum-of-terms form."""
    ncols = len(scaled)
    terms = [
        F.shiftleft(
            F.shiftright(col, i).bitwiseAND(F.lit(1)),
            i * ncols + (ncols - 1 - j),
        )
        for i in range(bits)
        for j, col in enumerate(scaled)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _guarded_rescale(
    df: DataFrame,
    cols: list[str],
    bits: int,
    prefix: str,
    label: str,
    caller: str,
    extra_reserved: tuple[str, ...] = (),
) -> tuple[DataFrame, list[Column], list[str]]:
    """The shared min/max bucket-width rescale of ``with_z_value`` and
    ``hilbert.with_hilbert_value``: returns ``df`` with one broadcast
    single-row min/max aggregate joined on, the per-column rescaled
    BIGINT expressions in ``[0, 2**bits)``, and the joined stat column
    names (``{prefix}min_{j}`` / ``{prefix}max_{j}``) for the caller to
    drop.

    The stat columns, plus the caller's own ``extra_reserved`` working
    columns, would silently clobber same-named input columns, so a clash
    raises instead. ``label`` prefixes the runtime overflow error."""
    # quoted source column, index-derived stat aliases: arbitrary
    # column names (spaces, dashes) survive the expr round-trip.
    # The bucket width is guarded at runtime: a span wider than 2**63
    # (huge negative min against huge positive max) would make
    # ``max - min`` wrap silently and mis-cluster every row, so
    # try_subtract detects the overflow and raise_error fails the job
    # instead. An all-NULL column keeps a NULL rescaled value,
    # distinguished from overflow by the max-IS-NULL arm.
    stat_cols, aggs, scaled = [], [], []
    for j, c in enumerate(cols):
        lo, hi = f"{prefix}min_{j}", f"{prefix}max_{j}"
        stat_cols += [lo, hi]
        as_long = F.col(c).cast("long")
        aggs += [F.min(as_long).alias(lo), F.max(as_long).alias(hi)]
        scaled.append(
            F.expr(
                f"(CAST(`{c}` AS BIGINT) - {lo}) div ("
                f"CASE WHEN {hi} IS NULL THEN CAST(NULL AS BIGINT) "
                f"WHEN try_subtract({hi}, {lo}) IS NULL "
                f"THEN CAST(raise_error('{label}: span of column {c} "
                f"exceeds 2**63 and overflows BIGINT rescale; reduce the "
                f"value range (e.g. dictionary-code the column) first') "
                f"AS BIGINT) "
                f"ELSE ({hi} - {lo}) div {1 << bits} + 1 END)"
            )
        )
    clashes = sorted((set(stat_cols) | set(extra_reserved)) & set(df.columns))
    if clashes:
        raise ValueError(
            f"input columns {clashes} collide with {caller}'s "
            "reserved working names — rename them before clustering"
        )
    joined = df.crossJoin(F.broadcast(df.agg(*aggs)))
    return joined, scaled, stat_cols


def with_z_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    out_col: str = "z_value",
) -> DataFrame:
    """Append the Morton code of ``cols`` as ``out_col``.

    Each column must be integral-valued (cast to BIGINT); it is
    rescaled to ``[0, 2**bits)`` with exact, overflow-free integer
    math — ``(x - min) div ((max - min) div 2**bits + 1)`` — then the
    rescaled words are bit-interleaved. The bucket width ``(max - min)
    div 2**bits + 1`` guarantees the quotient stays under ``2**bits``
    and no intermediate exceeds the input magnitude (multiplying the
    delta by ``2**bits - 1`` instead, the textbook form, overflows
    BIGINT once the column spans more than ``2**63 / 2**bits`` —
    exactly the dictionary-code/decimal-unscaled inputs the module
    docstring recommends). When the span itself is below ``2**bits``
    the width is 1 and the rescale is the identity. A column whose span
    itself exceeds ``2**63`` cannot be rescaled in BIGINT at all; the
    width expression detects that overflow at runtime (``try_subtract``)
    and fails the job with an explicit error instead of silently
    mis-clustering. One single-row
    min/max aggregate is broadcast-joined back (no per-row window, no
    second wide shuffle); with more than ~3 columns or very skewed key
    distributions, prefer fewer dimensions — each added column halves
    the per-column resolution at fixed ``bits``.
    """
    if not cols:
        raise ValueError("z-order needs at least one column")
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError(
            f"bits*ncols must stay within a signed 64-bit word, got "
            f"{bits}*{len(cols)}"
        )
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    joined, scaled, stat_cols = _guarded_rescale(
        df, cols, bits, prefix="__z", label="z-order", caller="with_z_value"
    )
    return joined.withColumn(out_col, _interleave(scaled, bits)).drop(*stat_cols)


def zorder_compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    zorder_cols: list[str],
    bits: int = 8,
    target_files: int = 4,
    mode: str = "overwrite",
) -> DataFrame:
    """OPTIMIZE ZORDER pass: rewrite ``src_path`` into ``target_files``
    files clustered along the Morton curve of ``zorder_cols``.

    Unlike ``maintenance.compact_parquet`` the cluster key here is
    TRANSIENT: computed, range-partitioned and sorted on, then dropped
    before the write — the output schema is exactly the input schema
    (a pre-existing column named like the transient key is rejected
    rather than silently destroyed). The layout write itself delegates
    to the ONE range-cluster implementation
    (sources/sink.py::load_clustered, ``drop_cols`` contract), same as
    compact_parquet. Because the z-value is a single long, the write
    is the same one-sample-pass + one-range-shuffle plan as single-key
    clustering plus a bounded constant-factor overhead: one narrow
    min/max stats scan, the Morton projection evaluated in both the
    sampling pass and the shuffle, and ~8 extra shuffle bytes/row for
    the carried key (NOTES.md, z-order write-cost points; independent
    uniform dimensions, fresh-process median protocol: z/single wall ratio
    1.53x at 1.5M rows, 1.46x at 15M, 1.19x at 45M — the ratio FALLS
    as the shuffle+write volume dominates both paths). Row content is
    invariant (pure layout), which is the DuckDB-checked contract of
    plans/zorderq.py's layout query."""
    from ..sources.sink import WarehouseSink

    key = "__zorder_key"
    df = spark.read.parquet(src_path)
    if key in df.columns:
        raise ValueError(
            f"input already carries a {key!r} column — rename it before "
            "z-ordering (the transient cluster key would destroy it)"
        )
    z = with_z_value(df, zorder_cols, bits=bits, out_col=key)
    result = WarehouseSink(spark).load_clustered(
        z, dest_path, [key], n_files=target_files, mode=mode, drop_cols=[key]
    )
    if not result.success:
        raise RuntimeError(f"z-order write failed: {result.error}")
    return spark.read.parquet(dest_path)
