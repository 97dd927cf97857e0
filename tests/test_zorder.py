"""Z-order clustering (operators/zorder.py, plans/zorderq.py):
driver-style DuckDB parity for the registry-ready pair, the Morton
round-trip invariant, and the footer-rectangle pruning pin that is the
point of the layout — a z-ordered table skips files on EITHER cluster
dimension, where single-key range clustering serves one dimension and
full-scans the other.
"""

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

import test_oracle_parity as par
from data_pipeline_for_real_time_retail_analytics_spark.operators.zorder import (
    with_z_value,
    zorder_compact,
)
from data_pipeline_for_real_time_retail_analytics_spark.plans import zorderq

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def ddb():
    con = par.make_views(duckdb.connect(), ["orders"], SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(zorderq.ORACLES))
def test_parity(spark, ddb, name):
    spark_pdf = zorderq.QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(zorderq.ORACLES[name]).fetchdf()
    par.assert_frames_match(spark_pdf, duck_pdf, name)


def _deinterleave(z: int, ncols: int, bits: int) -> tuple[int, ...]:
    """Pure-python inverse of the Morton code under the module's bit
    placement (bit i of col j at i*ncols + (ncols-1-j))."""
    words = [0] * ncols
    for i in range(bits):
        for j in range(ncols):
            bit = (z >> (i * ncols + (ncols - 1 - j))) & 1
            words[j] |= bit << i
    return tuple(words)


def test_morton_round_trip(spark):
    """z_value must be exactly the interleave of the rescaled words:
    deinterleaving recovers them, and on a [0, 2^bits) grid the rescale
    is the identity, so the words ARE the coordinates."""
    n, bits = 4096, 6
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    rows = with_z_value(grid, ["x", "y"], bits=bits).collect()
    assert len(rows) == n
    seen = set()
    for r in rows:
        assert _deinterleave(r.z_value, 2, bits) == (r.x, r.y)
        seen.add(r.z_value)
    assert len(seen) == n, "Morton code must be injective on the grid"


def test_morton_round_trip_three_dims(spark):
    """Three interleaved columns: the bit-placement formula must stay
    invertible (the 2-D tests never exercise ncols > 2)."""
    n, bits = 512, 3
    grid = spark.range(n).select(
        (F.col("id") % 8).alias("x"),
        ((F.col("id") / 8).cast("long") % 8).alias("y"),
        ((F.col("id") / 64).cast("long") % 8).alias("z"),
    )
    rows = with_z_value(grid, ["x", "y", "z"], bits=bits).collect()
    seen = set()
    for r in rows:
        assert _deinterleave(r.z_value, 3, bits) == (r.x, r.y, r.z)
        seen.add(r.z_value)
    assert len(seen) == n


def test_with_z_value_rejects_bad_configs(spark):
    df = spark.range(4).select(F.col("id").alias("x"))
    with pytest.raises(ValueError):
        with_z_value(df, [])
    with pytest.raises(ValueError):
        with_z_value(df, ["x"], bits=64)
    with pytest.raises(ValueError, match="already exists"):
        with_z_value(df.withColumn("z_value", F.lit(0)), ["x"])
    # reserved working columns refuse loudly instead of clobbering
    with pytest.raises(ValueError, match="reserved working names"):
        with_z_value(df.withColumn("__zmin_0", F.lit(0)), ["x"])


def test_wide_value_span_does_not_overflow(spark):
    """The bucket-width rescale must survive spans near 2^63 — the
    dictionary-code / decimal-unscaled inputs the docstring recommends.
    (The textbook (x-min)*(2^bits-1) form overflows BIGINT here.)"""
    wide = spark.createDataFrame(
        [(0, 0), (1, 1 << 62), (2, (1 << 61))], ["k", "x"]
    )
    rows = {
        r.k: r.z_value
        for r in with_z_value(wide, ["x"], bits=8).collect()
    }
    assert len(set(rows.values())) == 3, "distinct magnitudes must separate"
    assert rows[0] == 0
    assert all(0 <= z < 256 for z in rows.values())
    assert rows[0] < rows[2] < rows[1], "rescale must preserve order"


def test_out_of_contract_span_raises_not_misclusters(spark):
    """A column spanning MORE than 2**63 (huge negative min against huge
    positive max) cannot be rescaled in BIGINT at all: the width
    expression must fail the job with an explicit error instead of
    letting ``max - min`` wrap and silently mis-cluster every row."""
    from pyspark.errors import PySparkException

    over = spark.createDataFrame(
        [(0, -(1 << 62)), (1, (1 << 62))], ["k", "x"]
    )
    with pytest.raises(PySparkException, match="overflows BIGINT rescale"):
        with_z_value(over, ["x"], bits=8).collect()
    # an all-NULL column is NOT overflow: it keeps the NULL-contribution
    # behavior rather than tripping the guard
    nulls = spark.createDataFrame([(0,), (1,)], ["k"]).withColumn(
        "x", F.lit(None).cast("long")
    )
    got = with_z_value(nulls, ["x"], bits=8).collect()
    assert all(r.z_value is None for r in got)


def test_zorder_compact_rejects_transient_key_collision(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).select(
        F.col("id").alias("x"), F.lit(1).alias("__zorder_key")
    ).write.parquet(src)
    with pytest.raises(ValueError, match="__zorder_key"):
        zorder_compact(spark, src, str(tmp_path / "dst"), ["x"])


def _file_rects(spark, path, xcol, ycol):
    """Per-file (min, max) rectangle of the two dimensions — what a
    parquet footer gives a scan planner."""
    rects = []
    for f in sorted(glob.glob(path + "/part-*.parquet")):
        pdf = spark.read.parquet(f).toPandas()
        rects.append(
            (
                pdf[xcol].min(),
                pdf[xcol].max(),
                pdf[ycol].min(),
                pdf[ycol].max(),
            )
        )
    return rects


def _hits(rects, xlo, xhi, ylo, yhi):
    return sum(
        1
        for (x0, x1, y0, y1) in rects
        if not (x1 < xlo or x0 > xhi or y1 < ylo or y0 > yhi)
    )


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """The quantified z-order claim on a uniform 64x64 grid split into
    16 files: an x-only range layout answers an x-slab from ~2 files
    but needs ALL 16 for a y-slab; the z-order layout answers BOTH
    slabs from a small fraction of files."""
    n = 4096
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    src = str(tmp_path / "src")
    by_x = str(tmp_path / "by_x")
    by_z = str(tmp_path / "by_z")
    grid.repartition(8, "id").drop("id").write.parquet(src)

    base = spark.read.parquet(src)
    base.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(
        by_x
    )
    zorder_compact(spark, src, by_z, ["x", "y"], bits=6, target_files=16)

    rx = _file_rects(spark, by_x, "x", "y")
    rz = _file_rects(spark, by_z, "x", "y")
    assert len(rx) == len(rz) == 16

    # y-slab (y in [16, 23]): x-clustered layout cannot prune at all
    assert _hits(rx, 0, 63, 16, 23) == 16
    assert _hits(rz, 0, 63, 16, 23) <= 6

    # x-slab (x in [16, 23]): x-clustering is optimal, z-order must
    # still prune most files (good-not-perfect on every dimension)
    assert _hits(rx, 16, 23, 0, 63) <= 3
    assert _hits(rz, 16, 23, 0, 63) <= 6

    # point-ish box: both layouts prune, z-order at least as well
    assert _hits(rz, 16, 23, 16, 23) <= _hits(rx, 16, 23, 16, 23)


def test_zordered_orders_hits_target_files(spark):
    zorderq.q_zordered_orders(spark, SF_DIR)  # materializes the layout
    dest = zorderq.work_dir(spark, SF_DIR, "zorder_dest")
    files = glob.glob(dest + "/part-*.parquet")
    assert len(files) == zorderq.ZORDER_FILES
