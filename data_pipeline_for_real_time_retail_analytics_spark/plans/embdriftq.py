"""Embedding-space drift: per-label centroid alignment.

``label_centroid_shift``: for every label (a source, a day, a shard —
any slice of an embedded corpus), the cosine between its centroid
DIRECTION and the whole corpus's. The embedding-tier companion of the
scalar PSI/KS monitors: a slice whose centroid swings away from the
corpus is a topic/domain shift no per-scalar histogram can see, and
the all-labels table is the per-source embedding health report a
training-data pipeline prints per ingest day.

Exactness discipline (the micro-unit rule, applied to vectors):
each component is quantized to micro-unit BIGINT BEFORE any sum, so
the per-(label, dim) sums are exact integers on both engines; the
GLOBAL direction is the sum of the label sums (exact by linearity —
pinned); cosine is scale-invariant, so the un-normalized SUM vectors
stand in for centroids and no division happens until the final
double-precision cosine over exact integer dot/norms (IEEE-identical
cross-engine, rounded to 6 dp). Dot/norm intermediates run in
DECIMAL(38,0) ↔ HUGEINT: at 100 TB slice sizes the component sums
reach ~1e6·n and their products overflow BIGINT.

Scale shape: one posexplode pass partial-aggregated on (label, dim) —
labels × dims rows of state (640 here, KB at any corpus size); the
global frame derives from that aggregate, never from a second corpus
scan; the cosine join is labels × dims against a broadcast 64-row
global vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpusbase import _embs

MICRO = 1_000_000


def q_label_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, cos_to_global) per label, ordered by label."""
    embs = _embs(spark, sf_dir)
    comps = embs.select(
        "label",
        F.posexplode("embedding").alias("dim", "val"),
    ).select(
        "label",
        "dim",
        F.round(F.col("val").cast("double") * MICRO, 0)
        .cast("long")
        .alias("v"),
    )
    label_dims = comps.groupBy("label", "dim").agg(
        F.sum("v").alias("c"), F.count(F.lit(1)).alias("n")
    )
    global_dims = label_dims.groupBy("dim").agg(
        F.sum("c").alias("g")
    )
    joined = label_dims.join(F.broadcast(global_dims), "dim")
    per_label = joined.groupBy("label").agg(
        (F.max("n")).cast("long").alias("n_vecs"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * g")).alias("dot"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("nl"),
        F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("ng"),
    )
    return (
        per_label.select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nl").cast("double"))
                    * F.sqrt(F.col("ng").cast("double"))
                ),
                6,
            ).alias("cos_to_global"),
        )
        .orderBy("label")
    )


QUERIES = {
    "label_centroid_shift": q_label_centroid_shift,
}

ORACLES: dict[str, str] = {
    "label_centroid_shift": f"""
        WITH comps AS (
            SELECT label, CAST(u.i AS INT) AS dim,
                   CAST(ROUND(CAST(embedding[CAST(u.i + 1 AS INT)] AS DOUBLE)
                              * {MICRO}.0, 0) AS BIGINT) AS v
            FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
        ),
        label_dims AS (
            SELECT label, dim, CAST(SUM(v) AS BIGINT) AS c,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM comps GROUP BY label, dim
        ),
        global_dims AS (
            SELECT dim, CAST(SUM(c) AS BIGINT) AS g
            FROM label_dims GROUP BY dim
        ),
        per_label AS (
            SELECT l.label,
                   CAST(MAX(l.n) AS BIGINT) AS n_vecs,
                   SUM(CAST(l.c AS HUGEINT) * d.g) AS dot,
                   SUM(CAST(l.c AS HUGEINT) * l.c) AS nl,
                   SUM(CAST(d.g AS HUGEINT) * d.g) AS ng
            FROM label_dims l JOIN global_dims d USING (dim)
            GROUP BY l.label
        )
        SELECT CAST(label AS INT) AS label, n_vecs,
               ROUND(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(ng AS DOUBLE))),
                     6) AS cos_to_global
        FROM per_label
        ORDER BY label
    """,
}
