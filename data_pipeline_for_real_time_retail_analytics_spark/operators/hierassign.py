"""Two-level (coarse → fine) codebook assignment: the scale path for
cluster assignment when the codebook itself grows with the corpus.

Flat argmax assignment (``embcluster.assign_embedding_clusters``) costs
n·k cosines. The SemDeDup / IVF sizing rule keeps cluster occupancy
constant by growing k with n, which makes flat assignment O(n²) — the
exact cost curve the SemDeDup scale probe in NOTES.md measures. The standard
fix (FAISS IVF's quantizer, coarse-quantized k-means): group the fine
codebook under √k-ish coarse seeds, route each vector through its best
coarse seed, then argmax only over that seed's fine centroids —
n·(k₁ + k/k₁) cosines, minimized at k₁ = √k.

The assignment is APPROXIMATE with respect to the flat argmax (a
vector whose true best fine centroid lives under a different coarse
seed gets its group's best instead — same recall trade as IVF
n_probe=1), but the rule itself is fully deterministic: both stages
break ties to the higher centroid id (struct-max order), so the result
is engine-reproducible and has an exact DuckDB oracle
(plans/semdedupq.py). Output schema matches the flat assigner —
(id, cluster, centroid_sim) — so ``semdedup_prune`` composes with
either via its ``member=`` input.

Scale shape: stage 1 is a broadcast of k₁ coarse seeds (map-side
argmax, one row out per vector); stage 2 is a broadcast equi-join on
the winning coarse id against the (k-row) codebook — row expansion
bounded by the fine-group size, then map-side struct-max partial
aggregation. No shuffle grows with k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine, dot, l2_norm

__all__ = ["two_level_codebook", "assign_two_level"]


def two_level_codebook(centroids: DataFrame, n_coarse: int) -> DataFrame:
    """Attach a coarse routing level to a fine codebook.

    Coarse seeds are the ``n_coarse`` lowest-cid centroids (the same
    deterministic-seed convention as ``similarity.ivf_centroids``);
    every fine centroid is assigned to its max-cosine coarse seed (ties
    to the higher seed id). Returns (cid, cv, coarse_cid).
    """
    coarse = (
        centroids.orderBy("cid")
        .limit(n_coarse)
        .select(F.col("cid").alias("gcid"), F.col("cv").alias("gcv"))
    )
    sims = centroids.join(F.broadcast(coarse), how="cross").select(
        "cid",
        "cv",
        F.struct(
            cosine(F.col("cv"), F.col("gcv")).alias("gsim"),
            F.col("gcid").alias("gcid"),
        ).alias("cand"),
    )
    best = sims.groupBy("cid").agg(F.max("cand").alias("best"))
    return (
        centroids.join(best, "cid")
        .select("cid", "cv", F.col("best.gcid").alias("coarse_cid"))
    )


def assign_two_level(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector via its best coarse seed, then the best fine
    centroid within that seed's group. ``codebook`` must expose
    (cid, cv, coarse_cid) as produced by ``two_level_codebook``.
    Output: (id, cluster, centroid_sim), centroid_sim rounded to 6
    places — drop-in for the flat assigner's consumers.
    """
    # the coarse seeds are themselves members of the fine codebook:
    # every seed self-assigns (cosine(s,s)=1 wins its own argmax), so
    # the cid == coarse_cid rows recover exactly the routing set —
    # unless two seed vectors are bit-identical, which a codebook
    # builder must not produce anyway (dead duplicate cell)
    coarse = codebook.where(F.col("cid") == F.col("coarse_cid")).select(
        F.col("cid").alias("gcid"),
        F.col("cv").alias("gcv"),
        l2_norm(F.col("cv")).alias("__gn"),
    )
    # per-ROW norm precompute (r13): each vector's norm is folded once
    # and reused across BOTH stages' candidate rows (k₁ coarse + fine-
    # group pairs), instead of 2 norm folds per pair. dot/(vn·cn) is
    # the identical expression tree to cosine() — same doubles, same
    # multiply/divide order — so every gsim/csim is bit-identical and
    # the struct-max argmax is unchanged.
    stage1 = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__vn"),
    ).join(F.broadcast(coarse), how="cross").select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__vn"),
        F.struct(
            (
                dot(F.col(vec_col), F.col("gcv"))
                / (F.col("__vn") * F.col("__gn"))
            ).alias("gsim"),
            F.col("gcid").alias("gcid"),
        ).alias("cand"),
    )
    routed = (
        stage1.groupBy(id_col)
        .agg(
            F.max("cand").alias("best"),
            F.first(vec_col).alias(vec_col),
            F.first("__vn").alias("__vn"),
        )
        .select(id_col, vec_col, "__vn", F.col("best.gcid").alias("gcid"))
    )
    stage2 = routed.join(
        F.broadcast(
            codebook.select(
                "cid",
                "cv",
                F.col("coarse_cid").alias("gcid"),
                l2_norm(F.col("cv")).alias("__cn"),
            )
        ),
        "gcid",
    ).select(
        F.col(id_col),
        F.struct(
            (
                dot(F.col(vec_col), F.col("cv"))
                / (F.col("__vn") * F.col("__cn"))
            ).alias("csim"),
            F.col("cid").alias("cid"),
        ).alias("cand"),
    )
    best = stage2.groupBy(id_col).agg(F.max("cand").alias("best"))
    return best.select(
        id_col,
        F.col("best.cid").alias("cluster"),
        F.round(F.col("best.csim"), 6).alias("centroid_sim"),
    )
