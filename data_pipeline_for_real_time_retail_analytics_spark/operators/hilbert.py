"""Hilbert-curve multi-dimensional clustering — the locality-optimal
alternative to Morton/Z-order (operators/zorder.py).

Why a second space-filling curve: the Morton walk takes long diagonal
jumps at every power-of-two boundary (…0111 → …1000 flips all low
bits in BOTH dimensions), so consecutive z-values can be far apart in
key space and a file of contiguous z-values covers a ragged rectangle
set. The Hilbert walk moves to a 4-NEIGHBOR cell at EVERY step (unit
Manhattan distance, the curve's defining property — pinned in
tests/test_hilbertq.py over the full grid), which is why Hilbert
clustering yields measurably tighter file bounding boxes on the same
keys; it is the layout Iceberg's `sort-order = hilbert(...)` rewrites
use where Delta uses Z-order. The staged ``curve_locality`` query
measures exactly this contrast on real data through the driver gate.

Algorithm: the classic iterative xy→d transform (Hilbert 1891; the
bit-twiddling form follows the public-domain C on the "Hilbert curve"
Wikipedia page): walk bit planes from the top; at each plane emit the
quadrant digit ``(3·rx) XOR ry`` and rotate/reflect the frame so the
sub-square's traversal matches the canonical orientation:

    for s in (2^(bits-1), …, 1):
        rx, ry = bit(x, s), bit(y, s)
        d += s·s·((3·rx) XOR ry)
        if ry == 0:
            if rx == 1: x, y = n-1-x, n-1-y   # reflect
            x, y = y, x                        # transpose

Everything is exact BIGINT bit arithmetic on both engines — the DuckDB
oracle (plans/hilbertq.py) renders the SAME per-iteration update rules
as chained CTEs, one rendering per engine of one formula (the
unrolled-PageRank oracle discipline). The input rescale to the
2^bits × 2^bits grid is the guarded bucket-width rescale shared with
``zorder.with_z_value``.

Scale shape: one single-row min/max aggregate broadcast back, then
per-row map-side bit arithmetic — ``bits`` chained projections, no
shuffle, no UDF, no iteration over data (the loop is over BIT PLANES,
unrolled into the expression tree at plan time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .zorder import _guarded_rescale

__all__ = ["hilbert_steps", "with_hilbert_value"]


def _bit(col: Column, k: int) -> Column:
    return F.shiftright(col, k).bitwiseAND(F.lit(1))


def hilbert_steps(
    x: Column, y: Column, bits: int
) -> list[tuple[Column, Column, Column]]:
    """The unrolled per-plane updates: returns the (d_increment, new_x,
    new_y) column triples for planes k = bits-1 … 0, each in terms of
    the PREVIOUS plane's x/y columns (callers re-anchor between steps
    via select/withColumn so the expression tree stays shallow)."""
    steps = []
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        n = 1 << bits
        rx, ry = _bit(x, k), _bit(y, k)
        digit = F.when(rx == 0, ry).otherwise(F.lit(3) - ry)
        d_inc = (F.lit(s * s) * digit).cast("long")
        reflect = (ry == 0) & (rx == 1)
        swap = ry == 0
        x_ref = F.when(reflect, F.lit(n - 1) - x).otherwise(x)
        y_ref = F.when(reflect, F.lit(n - 1) - y).otherwise(y)
        new_x = F.when(swap, y_ref).otherwise(x_ref)
        new_y = F.when(swap, x_ref).otherwise(y_ref)
        steps.append((d_inc, new_x, new_y))
    return steps


def with_hilbert_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    out_col: str = "h_value",
) -> DataFrame:
    """Append the Hilbert index of exactly TWO integral columns as
    ``out_col`` (the 2-D transform; higher dimensions need a different
    rotation group and are out of scope — Z-order covers them).

    Rescale contract and guards are identical to
    ``zorder.with_z_value``: exact overflow-free bucket-width division
    into [0, 2^bits), try_subtract span-overflow detection, NULL
    propagation for all-NULL columns."""
    if len(cols) != 2:
        raise ValueError(f"hilbert clustering is 2-D, got {len(cols)} cols")
    if bits < 1 or 2 * bits > 62:
        raise ValueError(f"2*bits must stay within a signed 64-bit word, got {bits}")
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    # the working columns below are written with withColumns/select('*')
    # and would silently CLOBBER same-named input columns — the shared
    # rescale refuses them loudly instead (same contract as the out_col
    # guard above)
    joined, scaled, _ = _guarded_rescale(
        df, cols, bits, prefix="__h", label="hilbert",
        caller="with_hilbert_value", extra_reserved=("__hx_0", "__hx_1", "__hd"),
    )
    cur = joined.select(
        "*", *(col.alias(f"__hx_{j}") for j, col in enumerate(scaled))
    )
    # unroll the planes, re-anchoring x/y/d as real columns each step so
    # the tree depth stays O(1) per step instead of O(bits) nested CASEs
    cur = cur.withColumn("__hd", F.lit(0).cast("long"))
    for i, (d_inc, new_x, new_y) in enumerate(
        hilbert_steps(F.col("__hx_0"), F.col("__hx_1"), bits)
    ):
        cur = cur.withColumns(
            {
                "__hd": F.col("__hd") + d_inc,
                "__hx_0": new_x,
                "__hx_1": new_y,
            }
        )
    keep = [c for c in df.columns]
    return cur.select(*keep, F.col("__hd").alias(out_col))
