"""Shared co-purchase pair mining (r9 verdict ask #4).

Three registered queries consume the SAME aggregated pair-support
frame — the distinct same-order part pairs with their co-occurrence
counts:

* ``basket_pairs`` (plans/behavior.py): support ≥ MIN_SUPPORT + lift;
* ``part_pagerank`` (plans/pagerankq.py): every pair, as graph edges;
* ``copurchase_triangles`` (plans/trianglesq.py): support-thresholded
  strong-tie edges.

Before r10 each cell re-mined the pairs from lineitem independently
(the basket self-join dominated part_pagerank's 8.9 s cell). The
``pair_support`` builder below computes the aggregation once per
(application, sf_dir) through the plans/shared.py memo and
localCheckpoints it, so the second and third consumers pay ~zero.

Scale note (100 TB): the pair-support frame grows with the corpus
(distinct co-bought pairs), unlike corpusbase's few-hundred-row pair
cache. localCheckpoint here amortizes it within one Spark application;
a production pipeline materializes this frame ONCE per day to a
parquet/warehouse table (sources/sink.py) and every graph/affinity
consumer reads that table — the plan shape
(per-order bounded self-join, partial-aggregated on the pair key,
support filter pushed into the first aggregation's consumers) is
unchanged. The self-join is bounded by basket size, so candidates grow
linearly with orders, never quadratically with the part catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .shared import shared

#: minimum co-occurrence support shared by basket_pairs and
#: copurchase_triangles (their oracles interpolate this constant)
MIN_SUPPORT = 3


def pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(pa, pb, support)`` for every distinct co-ordered part pair
    (pa < pb canonical), computed once per (application, sf_dir).

    support = number of distinct orders containing both parts. One
    shuffle on okey collects each order's DISTINCT part set into a
    basket array (``collect_set`` — bounded by basket size, ≤ ~7
    lineitems per order in TPC-H-shaped data); the canonical pa < pb
    pairs are then a map-side transform over the sorted array, and the
    pair aggregation is the second and last shuffle. (Before r13 this
    was distinct → okey-keyed self-join → pair aggregation — four
    exchanges and a joined theta filter for the identical pair
    multiset; guide §2.4.)"""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        baskets = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        ).groupBy("okey").agg(F.array_sort(F.collect_set("part")).alias("parts"))
        # ordered pairs (arr[i], arr[j]) with i < j: the sorted array
        # makes pa < pb by construction, matching the self-join's
        # numeric theta filter exactly
        pair_arr = F.flatten(
            F.transform(
                "parts",
                lambda pa, i: F.transform(
                    F.slice(
                        F.col("parts"), i + 2, F.size(F.col("parts"))
                    ),
                    lambda pb: F.struct(pa.alias("pa"), pb.alias("pb")),
                ),
            )
        )
        return (
            baskets.select(F.explode(pair_arr).alias("p"))
            .select("p.pa", "p.pb")
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("support"))
            .localCheckpoint()
        )

    return shared(spark, sf_dir, "pair_support", build)
