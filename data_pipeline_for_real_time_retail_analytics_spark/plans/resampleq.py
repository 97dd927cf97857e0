"""Per-key resample + linear interpolation, driver-gate-ready (round 8).

Drives the grouped-map Arrow path (``applyInPandas``,
operators/resample.py:grouped_interpolate) through the driver's DuckDB
oracle gate — until now the Pandas-UDF surface had exactly one driver
row (``multimodal_features``, the mapInPandas path); this adds the
grouped-map path with full value checking, not rows-only.

Float-parity construction (all three stages deterministic):

1. Bucket means are computed in SPARK SQL before the pandas stage, with
   each value quantized to micro-unit BIGINTs (the bm25 fold-order
   discipline) — Spark's partial-aggregation fold order cannot move the
   result. The pandas stage then resamples single-point buckets, whose
   mean is the identity.
2. The interpolation itself runs per group inside pandas
   (deterministic), and pandas' linear method is numpy's ``np.interp``:
   ``(y2-y1)/gap*offset + y1``, slope first — verified bit-for-bit
   against the alternatives over 2000 randomized gaps. The oracle
   mirrors exactly that operation order (``(nv-pv)/gap*off + pv``).
3. The 6-decimal anchor is ``floor(x*1e6 + 0.5)/1e6`` — NOT the
   engines' ROUND: with 2-3-decimal inputs and small-rational gap
   fractions, interpolated values land EXACTLY on .5e-6 boundaries
   (12 cells at sf0.01), where Spark's BigDecimal-based HALF_UP and
   DuckDB's double rounding disagree on the same bit-identical double.
   The floor form is plain IEEE arithmetic, so identical inputs give
   identical outputs on both engines by construction.

The oracle rebuilds the per-user hourly grid with generate_series and
``last_value/first_value (IGNORE NULLS)`` windows; ``limit_area=
'inside'`` (no invented leading/trailing buckets) maps to dropping
unobserved rows without both a previous and a next observation.

Scale contract: one shuffle on the key, each per-user series is one
Arrow batch in one worker pass (documented applyInPandas envelope —
thousands of points per user, never the corpus); the grid never leaves
the executors.

Reference parity: the reference has no time-series tooling at all; this
is part of the mandated beyond-reference curation suite.

tests/test_resampleq.py pins the semantics; driver-identical parity
runs in tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resample import grouped_interpolate
from ..sources import load_table


def q_user_value_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's event values bucket-averaged onto an hourly grid with
    interior gaps linearly interpolated (module docstring for the
    parity construction)."""
    events = load_table(spark, sf_dir, "events")
    micro = F.round(
        F.col("value") * F.lit(1_000_000.0), 0
    ).cast("long")
    bucketed = (
        events.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(
            (
                (F.sum(micro).cast("double") / F.lit(1_000_000.0))
                / F.count(F.col("value"))
            ).alias("v")
        )
    )
    out = grouped_interpolate(
        bucketed, ["user_id"], ts_col="bucket", value_col="v", freq="1h"
    )
    anchored = (
        F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("double")
        / F.lit(1_000_000.0)
    )
    # no global orderBy: the driver's comparator sorts rows before
    # hashing, and a range sort here would RE-EXECUTE the pandas stage
    # for partition-boundary sampling — measured 23.4 s -> 11 s at
    # sf0.1 from dropping it (the oracle keeps its ORDER BY; harmless)
    return out.select(
        "user_id",
        "bucket_start",
        anchored.alias("value"),
        "was_observed",
    )


QUERIES = {
    "user_value_interpolation": q_user_value_interpolation,
}

ORACLES: dict[str, str] = {
    "user_value_interpolation": """
        WITH obs AS (
            SELECT user_id,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
                   CAST(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE)
                                             * CAST(1000000.0 AS DOUBLE), 0)
                                      AS BIGINT)) AS BIGINT) AS DOUBLE)
                       / CAST(1000000.0 AS DOUBLE)
                       / CAST(COUNT(value) AS DOUBLE) AS v
            FROM events
            GROUP BY 1, 2
        ),
        bounds AS (
            SELECT user_id, MIN(b) AS mn, MAX(b) AS mx FROM obs GROUP BY 1
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                       AS bucket_start
            FROM bounds
        ),
        g AS (
            SELECT gr.user_id, gr.bucket_start, o.v,
                   o.v IS NOT NULL AS was_observed
            FROM grid gr
            LEFT JOIN obs o
              ON gr.user_id = o.user_id AND gr.bucket_start = o.b
        ),
        w AS (
            SELECT *,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN bucket_start END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pt,
                   first_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket_start
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN bucket_start END
                               IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket_start
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nt
            FROM g
        )
        SELECT user_id, bucket_start,
               -- floor-quantize (NOT ROUND): identical IEEE ops on both
               -- engines, see module docstring
               CAST(FLOOR((CASE WHEN v IS NOT NULL THEN v
                          -- np.interp operation order: slope first
                          ELSE (nv - pv)
                               / CAST(datediff('hour', pt, nt) AS DOUBLE)
                               * CAST(datediff('hour', pt, bucket_start)
                                      AS DOUBLE)
                               + pv
                     END) * CAST(1000000.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS DOUBLE)
                   / CAST(1000000.0 AS DOUBLE) AS value,
               was_observed
        FROM w
        WHERE v IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
        ORDER BY user_id, bucket_start
    """,
}
