"""Zone-map data-skipping query (operators/zonemap.py).

``zonemap_pruned_orders``: fetch one quarter's mid-value orders from a
range-clustered layout, reading ONLY the files whose zone (per-file
min/max of o_orderdate and o_totalprice) overlaps the predicate box.
The staging write is the same eager write→read-back pattern as
plans/scaleops.py (deterministic per-application work dir); the layout
is range-clustered on o_orderdate (sources/sink.py ``load_clustered``),
so the date dimension prunes hard while o_totalprice — uncorrelated
with the layout — demonstrates the residual-filter half of the
contract. Result ≡ full-scan filter (the DuckDB oracle); the
actually-skipped-files effect and the prune arithmetic are pinned in
tests/test_zonemapq.py.

100 TB shape: the zone-map table is file-grain (~100k rows at 1 GB
files) — the prune is a metadata operation, the scan cost is
proportional to the SURVIVING files, and the one collect() moves file
names only (the bounded metadata exception, operators/zonemap.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.zonemap import build_file_zonemaps, zonemap_scan
from ..sources import load_table
from ..sources.sink import WarehouseSink
from .shared import work_dir

#: range-clustered layout width (files); at sf0.01 each file owns
#: ~1/16th of the o_orderdate range
N_FILES = 16

#: the predicate box: one quarter × a mid-value price band
DATE_LO, DATE_HI = "1996-01-01", "1996-03-31 23:59:59"
PRICE_LO, PRICE_HI = 100_000.0, 200_000.0


def _clustered_orders_path(spark: SparkSession, sf_dir: str) -> str:
    out = work_dir(spark, sf_dir, "zonemap_orders")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    result = WarehouseSink(spark).load_clustered(
        orders, out, ["o_orderdate"], n_files=N_FILES
    )
    if not result.success:
        raise RuntimeError(f"zonemap staging write failed: {result.error}")
    return out


def q_zonemap_pruned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter + price-band order fetch through the zone-map prune."""
    path = _clustered_orders_path(spark, sf_dir)
    zm = build_file_zonemaps(
        spark, path, ["o_orderdate", "o_totalprice"]
    )
    result, _n_read, _n_total = zonemap_scan(
        spark,
        zm,
        {
            "o_orderdate": (
                F.to_timestamp(F.lit(DATE_LO)),
                F.to_timestamp(F.lit(DATE_HI)),
            ),
            "o_totalprice": (PRICE_LO, PRICE_HI),
        },
    )
    return result.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    ).orderBy("o_orderkey")


QUERIES = {
    "zonemap_pruned_orders": q_zonemap_pruned_orders,
}

ORACLES: dict[str, str] = {
    "zonemap_pruned_orders": f"""
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '{DATE_LO}'
                              AND TIMESTAMP '{DATE_HI}'
          AND o_totalprice BETWEEN {PRICE_LO} AND {PRICE_HI}
        ORDER BY o_orderkey
    """,
}
