"""Near-duplicate similarity histogram.

``pair_jaccard_histogram``: the verified MinHash near-dup pairs
bucketed into 0.05-wide Jaccard bins — the similarity PROFILE of the
corpus's duplication, where the cluster-size histogram
(plans/clusterstatq.py ``dup_cluster_sizes``) is its connectivity
profile. The two together are the dedup-threshold tuning view: a mass
of pairs piled just above the 0.5 cut means the threshold is shaving a
continuum (lower it and the pair set explodes); a clean bimodal split
— organic text low, template/mutant copies high — means the cut is
safe. Bin 20 is the exact-duplicate bucket (Jaccard exactly 1.0).

Rides the shared plans/corpusbase.planted_minhash_pairs
materialization: beyond the pair set every dedup cell shares, this
cell is one ≤ 11-group aggregation.

Exactness: the pair frame's ``jaccard`` is already an exact
engine-identical double (integer set sizes through one rounded
division — the registered minhash_lsh_dupes contract); the bin index
is one correctly-rounded multiply by 20.0 and an exact floor, so both
engines bin identically even at exact bin boundaries; min/max are
selections, counts integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import llm_oracles as LO
from .corpusbase import planted_minhash_pairs


def q_pair_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, bin_lo, n_pairs, min_jaccard, max_jaccard), ascending bin;
    bin = floor(jaccard · 20), so bin_lo = bin / 20 is the bucket's
    inclusive lower Jaccard bound and bin 20 holds exact duplicates."""
    pairs = planted_minhash_pairs(spark, sf_dir)
    return (
        pairs.select(
            F.floor(F.col("jaccard") * F.lit(20.0)).cast("int").alias("bin"),
            "jaccard",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .select(
            "bin",
            (F.col("bin") / F.lit(20.0)).alias("bin_lo"),
            "n_pairs",
            "min_jaccard",
            "max_jaccard",
        )
        .orderBy("bin")
    )


QUERIES = {
    "pair_jaccard_histogram": q_pair_jaccard_histogram,
}

ORACLES: dict[str, str] = {
    "pair_jaccard_histogram": f"""
        WITH pairs AS ({LO.minhash_lsh_dupes()}),
        binned AS (
            SELECT CAST(floor(jaccard * 20.0) AS INT) AS bin, jaccard
            FROM pairs
        )
        SELECT bin,
               bin / 20.0 AS bin_lo,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               MIN(jaccard) AS min_jaccard,
               MAX(jaccard) AS max_jaccard
        FROM binned
        GROUP BY bin
        ORDER BY bin
    """,
}
