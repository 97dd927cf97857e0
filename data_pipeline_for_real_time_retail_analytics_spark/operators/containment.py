"""Containment duplicates — documents whose shingle profile is (almost)
a SUBSET of another document's (Broder 1997's *containment* measure,
the companion to resemblance/Jaccard).

Why a separate operator when MinHash-LSH near-dup exists: Jaccard is
symmetric — a 50-word quote embedded verbatim in a 5,000-word article
has Jaccard ≈ 0.01 and NO Jaccard-threshold tier will ever pair them,
yet the small document is a pure duplicate for training purposes
(truncated crawls, quote wrappers, syndicated excerpts). Containment
``|A ∩ B| / |A|`` is the asymmetric measure that catches exactly this
class, and MinHash bands cannot approximate it (band collision
probability tracks resemblance, not containment) — so candidates come
from a DIRECT rare-shingle equi-join instead of LSH.

Semantics (deterministic, oracle-mirrored): containment is computed
over each document's RARE shingles — those whose corpus document
frequency is ≤ ``df_cap``. The cap is what bounds the self-join
(Σ df² ≤ df_cap · Σ df, linear in the posting lists — the
operators/dedup.py boilerplate precedent), and it is also the right
semantics: a shingle shared by hundreds of documents carries no
containment signal. The threshold test is integer cross-multiplication
(``100·shared ≥ pct·|A_rare|``) — no float in the operator or oracle.

Because document frequency is GLOBAL, a rare shingle of A that occurs
in B is by definition also in B's rare set, so the rare-rare join
loses nothing against "A's rare shingles ∩ all of B".

Spark-first shapes (100 TB): one shingle explode (map-side), one
df aggregation, then df-capped POSTING LISTS — each rare shingle's
≤ df_cap docs collect into one bounded array and the pair expansion
is a map-side array transform (the plans/crossdupq.py shape; before
r13 this was a rare⋈rare sort-merge self-join — two more exchanges
plus their sorts for the identical pair multiset). The shared posting
frame feeds two consumers (per-doc rare sizes + the pair expansion) →
``localCheckpoint`` per the shared-frames rule; at production scale
that materialization goes to storage instead.

Reference parity: the reference has no dedup surface at all (dbt-
declared scaffolding, config/pipelines/sample_pipeline.yaml:55-99);
this extends the mandated LLM-curation suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingles

__all__ = ["containment_pairs"]


def containment_pairs(
    df: DataFrame,
    df_cap: int = 25,
    threshold_pct: int = 90,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ordered pairs (contained_id, container_id, n_shared,
    n_contained_rare) where ≥ ``threshold_pct``% of the contained
    document's rare shingles occur in the container. Both directions
    of a mutually-containing pair emit (each direction is its own
    claim). Documents with no rare shingle cannot be contained.
    """
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("s"),
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # Posting lists instead of a self-join (r13, guide §2.4 — the
    # plans/crossdupq.py capped-postings shape): each rare shingle's
    # ≤ df_cap distinct docs (word_shingles is array_distinct, so
    # (doc, s) is unique) collect into ONE bounded array, and the pair
    # expansion becomes a map-side array transform — the two
    # exchanges + sorts of the rare-frame sort-merge self-join are
    # gone, and n_contained_rare is recovered from the same posting
    # frame instead of a separate shuffle of the occurrence rows. The
    # df aggregation stays a separate COUNT pass (never collect lists
    # for over-cap shingles — a background shingle's posting list is
    # unbounded at corpus scale).
    posts = (
        sh.join(dfreq.where(F.col("df") <= df_cap), "s")
        .groupBy("s")
        .agg(F.collect_list("doc").alias("docs"))
        .localCheckpoint()
    )
    n_rare = (
        posts.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_contained_rare"))
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                "docs",
                lambda a: F.transform(
                    F.col("docs"),
                    lambda b: F.struct(
                        a.alias("contained_id"), b.alias("container_id")
                    ),
                ),
            )
        ),
        lambda p: p["contained_id"] != p["container_id"],
    )
    shared = (
        posts.select(F.explode(pair_arr).alias("p"))
        .select("p.contained_id", "p.container_id")
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            n_rare.withColumnRenamed("doc", "contained_id"), "contained_id"
        )
        .where(
            F.lit(100) * F.col("n_shared")
            >= F.lit(threshold_pct) * F.col("n_contained_rare")
        )
        .select("contained_id", "container_id", "n_shared", "n_contained_rare")
    )
