"""r13 pin: the collect_set-basket pair mining in plans/copurchase.py
must reproduce the pre-r13 self-join formulation exactly — same
canonical pa < pb pairs, same distinct-order support counts."""

from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.plans import (
    copurchase,
    shared,
)
from data_pipeline_for_real_time_retail_analytics_spark.sources import (
    load_table,
)


def test_pair_support_equals_self_join_reference(spark, sf_dir):
    shared.clear()
    got = sorted(
        tuple(r)
        for r in copurchase.pair_support(spark, sf_dir).collect()
    )
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = baskets.select("okey", F.col("part").alias("pa"))
    b = baskets.select("okey", F.col("part").alias("pb"))
    ref = sorted(
        tuple(r)
        for r in (
            a.join(b, "okey")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("support"))
        ).collect()
    )
    assert got == ref
    assert len(got) > 0
    shared.clear()
