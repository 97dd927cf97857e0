"""Mergeable HLL sketch roll-up through the driver gate.

``sketch_rollup_events``: per-event-type approximate distinct users
(Datasketches HLL via ``hll_sketch_agg``) PLUS a grand-total row whose
estimate comes from ``hll_union_agg`` over the per-group sketches —
never from re-scanning the events. That union row is the whole point:
at 100 TB you keep one sketch per (day, source, type) and roll up to
any coarser grain for free, which the plain ``approx_count_distinct``
surface (driven by plans/approxq.py) cannot do.

Same tolerance-banded oracle contract as approxq: the exact distinct
anchors (computed from ONE materialized (event_type, user_id) distinct
frame shared by both grains — the shared-frames rule) hash-match
DuckDB's recompute, while the sketch estimates — including the UNIONED
one — are emitted as banded booleans the oracle asserts as literal
TRUE. A union that loses or double-merges sketch state lands outside
the band and turns the driver cell red.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

#: relative tolerance for the banded claims. Spark's default HLL
#: lgConfigK=12 gives rsd ~1.6%/sqrt(2^12/2^12)=~1.6%; 10% is ~6 sigma
#: — loose enough to never flake, tight enough that structural bugs
#: (empty union, double merge, wrong column) always land outside it.
TOL = 0.10


def q_sketch_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, exact_distinct, sketch_ok, is_total): per-type rows
    plus the union-rollup grand-total row (event_type NULL)."""
    pairs = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint()  # shared by the group grain and the total
    )
    sketches = pairs.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("__sk"),
        F.count(F.lit(1)).cast("long").alias("exact_distinct"),
    )
    per_group = sketches.select(
        "event_type",
        "exact_distinct",
        F.hll_sketch_estimate("__sk").alias("__est"),
        F.lit(0).alias("is_total"),
    )
    total_exact = pairs.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    total = (
        sketches.agg(F.hll_union_agg("__sk").alias("__sk"))
        .join(F.broadcast(total_exact), how="cross")
        .select(
            F.lit(None).cast("string").alias("event_type"),
            "exact_distinct",
            F.hll_sketch_estimate("__sk").alias("__est"),
            F.lit(1).alias("is_total"),
        )
    )
    return (
        per_group.unionByName(total)
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("__est") - F.col("exact_distinct"))
                <= TOL * F.col("exact_distinct")
            ).alias("sketch_ok"),
            "is_total",
        )
        .orderBy("is_total", "event_type")
    )


QUERIES = {
    "sketch_rollup_events": q_sketch_rollup_events,
}

ORACLES: dict[str, str] = {
    "sketch_rollup_events": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               TRUE AS sketch_ok,
               0 AS is_total
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT NULL AS event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               TRUE AS sketch_ok,
               1 AS is_total
        FROM events
        ORDER BY is_total, event_type
    """,
}
