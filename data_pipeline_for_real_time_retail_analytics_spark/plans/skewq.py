"""Join-key skew diagnostic.

``join_key_skew``: the frequency profile a shuffle-join planner needs
BEFORE the job runs: for the heaviest join keys of the fact table,
their row count, share of the table in exact parts-per-million, and
the ratio to a perfectly uniform key (share × distinct-key count, in
ppm). The operational companion to the salting operator
(operators/skew.py ``salted_agg``) and AQE's skew-join handling: keys
whose uniform_ratio_ppm is orders of magnitude above 1e6 are the ones
that stall a 1000-executor shuffle on one straggler task, and this
query is how a pipeline author finds them and sizes the salt factor.

All-integer output (counts, floor-divided ppm shares) — bit-exact
oracle. One aggregation + a top-k rank window over key-grain rows;
the two scalar totals ride a single-row broadcast cross join (the
established stats-scalar pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

PPM = 1_000_000
TOP_K = 15
#: the profiled join key: lineitem's part key — the fact table's most
#: join-prone dimension key
KEY = "l_partkey"


def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, n_rows, share_ppm, uniform_ratio_ppm, rank) for the TOP_K
    heaviest lineitem part keys."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col(KEY).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = per_key.agg(
        F.sum("n_rows").alias("n_total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    w = Window.orderBy(F.desc("n_rows"), F.col("key"))
    # uniform_ratio_ppm's intermediate product PPM × n_rows × n_keys
    # exceeds 2^63 at the design point this diagnostic targets (~1e10
    # distinct keys over 100 TB of fact rows), so it is computed in
    # DECIMAL(38,0) — bounded to ~1e28 — and floor-divided LAST to keep
    # ppm precision; the oracle mirrors with an explicit HUGEINT cast
    # (DuckDB BIGINT multiplication raises on overflow, it does not
    # promote).
    return (
        per_key.join(F.broadcast(totals), how="cross")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select(
            "key",
            "n_rows",
            F.expr(f"({PPM} * n_rows) DIV n_total").alias("share_ppm"),
            F.expr(
                f"CAST({PPM} AS DECIMAL(38,0)) * n_rows * n_keys DIV n_total"
            ).alias("uniform_ratio_ppm"),
            "rank",
        )
        .orderBy("rank")
    )


QUERIES = {
    "join_key_skew": q_join_key_skew,
}

ORACLES: dict[str, str] = {
    "join_key_skew": f"""
        WITH per_key AS (
            SELECT {KEY} AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY {KEY}
        ),
        t AS (
            SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM per_key
        ),
        ranked AS (
            SELECT key, n_rows,
                   CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INT)
                       AS rank
            FROM per_key
        )
        SELECT r.key, r.n_rows,
               CAST(({PPM} * r.n_rows) // t.n_total AS BIGINT) AS share_ppm,
               CAST((CAST({PPM} AS HUGEINT) * r.n_rows * t.n_keys)
                    // t.n_total AS BIGINT) AS uniform_ratio_ppm,
               r.rank
        FROM ranked r, t
        WHERE r.rank <= {TOP_K}
        ORDER BY r.rank
    """,
}
