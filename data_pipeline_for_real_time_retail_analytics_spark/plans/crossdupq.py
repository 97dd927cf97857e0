"""Cross-source n-gram overlap matrix.

``source_overlap_matrix``: for every pair of sources sharing at least
one distinct word 8-gram, the count of shared grams and a floor-ppm
containment rate (shared / the smaller source's kept-gram vocabulary).
This is the source-level syndication detector: document-level tiers
(MinHash, containment, chunk dedup) find individual copies, but a
mirror site / wire-service relationship shows up as a source PAIR with
an overlap rate far above the corpus background, and THIS table is
where a curation run sees it first (then prunes or down-weights one
side of the pair). The sf0.01 corpus genuinely contains the signal:
22 of 190 source pairs share grams, topping at 137 shared 8-grams —
the generator's cross-document repeated spans, the same ones
curation_funnel's span-clean stage surfaces.

Bounding discipline (the boilerplate_ngrams pattern): grams present in
more than ``SOURCE_CAP`` distinct sources are excluded before the pair
expansion — a ubiquitous gram carries no pairwise signal and is
exactly the posting-list blowup a quadratic fanout dies on at corpus
scale. The denominator uses the same kept-gram universe, so the ppm
rate is a containment over one consistent vocabulary.

Two further keyspace bounds (r11, the operators/dedup.py
``posting_df_cap`` discipline applied here):

* **df ≥ 2 floor before materialization**: singleton grams (one
  source) dominate a Heaps-law vocabulary but can never form a pair
  and their denominator contribution is recoverable by subtraction
  (``n_all − n_overcap``), so only multi-source grams are ever
  CHECKPOINTED — the posting materialization is bounded by the
  cross-source shared vocabulary, not the corpus vocabulary.
* **md5-prefix shuffle key**: the gram text (≥ ~50 bytes at n = 8) is
  only ever a grouping key, never output, so every shuffle ships the
  first 16 hex chars of ``md5(gram)`` instead (64-bit keyspace,
  portable — the DuckDB oracle hashes identically, so a collision is
  THE SAME collision on both engines and parity holds by
  construction; at 64 bits the collision probability is negligible
  at any realistic vocabulary).

Scale shape: distinct (source, gram-hash) is one partial-aggregated
pass, checkpointed NARROW (source + 16-char key — at 90× that frame is
21M rows where the old posting checkpoint carried the same rows PLUS
gram text and array overhead); ONE gram-keyed aggregate produces
(n_src, posting) with only n_src ≥ 2 rows materialized; pair expansion
is a map-side array transform emitting at most C(SOURCE_CAP, 2)
structs per gram (never a self-join — see the query docstring for the
measured pathology the first draft had); per-source totals come from
one source-keyed count minus the over-cap explode, joined back
broadcast. On a cluster the dist/posting frames persist to warehouse
tables per corpus epoch; in local mode their materialization is the
measured cost floor (bench notes, r11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import word_shingles
from .corpusbase import _docs
from .llm_oracles import toks_expr

#: word n-gram width
N = 8
#: grams in more than this many distinct sources are background noise
SOURCE_CAP = 10


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, shared_grams, grams_a, grams_b,
    overlap_ppm) per overlapping source pair, ascending pair.

    No self-join: the SOURCE_CAP bound means each kept gram's posting
    list fits in a ≤ cap-element ``collect_set`` — one shuffle on the
    (hashed, 16-char) gram key, then the pair expansion is a map-side
    array transform (≤ C(cap, 2) structs per gram). A first draft
    self-joined the posting table on the gram key; the executed-plan
    audit showed the posting subtree recomputed 4× (8 parquet scans,
    26 shuffles) with ReuseExchange never firing, so the bounded-array
    shape replaced it. The r11 df-floor revision stops the posting
    CHECKPOINT from carrying singleton grams at all: the single
    gram-keyed aggregate computes (n_src, srcs) and only n_src ≥ 2
    rows — the cross-source shared vocabulary — are materialized; the
    per-source denominator is recovered as (all distinct grams)
    − (over-cap grams), both cheap counts. Alternative shapes were
    MEASURED and rejected (bench notes, r11): recomputing the
    enumeration per consumer instead of checkpointing the distinct
    frame doubles the sf0.1 wall (5.1 vs 2.7 s median) for a 90× wall
    inside host noise, and a GROUPING SETS single-pass variant was
    3-8× worse at base. The DuckDB oracle still uses the self-join
    formulation over the same hashed grams — the parity gate is what
    proves the shapes equivalent."""
    docs = _docs(spark, sf_dir).where(F.col("source").isNotNull())
    # narrow the key before any shuffle: grams are only ever grouped
    # on, never output — 16 hex chars of md5 (64 bits) ship instead of
    # the ~50+ byte 8-gram text; the oracle hashes identically
    dist = (
        docs.select(
            "source", F.explode(word_shingles(F.col("text"), N)).alias("g")
        )
        .select("source", F.substring(F.md5("g"), 1, 16).alias("gh"))
        .distinct()
        .localCheckpoint()
    )
    # ONE gram-keyed aggregate; the df ≥ 2 floor keeps singleton grams
    # (the Heaps-law bulk of the vocabulary) out of the materialized
    # frame — at production scale this frame persists to a warehouse
    # table per corpus epoch instead (the plans/copurchase.py
    # convention).
    multi = (
        dist.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sort_array(F.collect_set("source")).alias("srcs"),
        )
        .where(F.col("n_src") >= 2)
        .localCheckpoint()
    )
    # denominator: kept (≤ cap) distinct grams per source, computed by
    # subtraction so singleton grams never need a posting row
    per_source_all = dist.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_all")
    )
    over_per_source = (
        multi.where(F.col("n_src") > SOURCE_CAP)
        .select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_over"))
    )
    totals = (
        per_source_all.join(F.broadcast(over_per_source), "source", "left")
        .select(
            "source",
            (F.col("n_all") - F.coalesce(F.col("n_over"), F.lit(0)))
            .cast("long")
            .alias("n_grams"),
        )
    )
    pairs = (
        multi.where(F.col("n_src") <= SOURCE_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    " y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.source_a").alias("source_a"),
                 F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    return (
        pairs.join(
            F.broadcast(totals.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n_grams", "grams_a")),
            "source_a",
        )
        .join(
            F.broadcast(totals.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("n_grams", "grams_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.expr(
                "CAST((1000000 * shared_grams)"
                " DIV least(grams_a, grams_b) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


QUERIES = {
    "source_overlap_matrix": q_source_overlap_matrix,
}

_TOKS = toks_expr()

ORACLES: dict[str, str] = {
    "source_overlap_matrix": f"""
        WITH tokd AS (
            SELECT source, {_TOKS} AS w FROM documents
            WHERE source IS NOT NULL
        ),
        grams AS (
            -- the same 16-hex-char md5 prefix the Spark side shuffles
            -- on: a collision is the SAME collision on both engines
            SELECT DISTINCT source, substring(md5(g), 1, 16) AS g
            FROM (
                SELECT source,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(len(w) - {N - 1}, 0) + 1),
                           i -> array_to_string(list_slice(w, i, i + {N - 1}),
                                                ' ')))) AS g
                FROM tokd WHERE len(w) >= {N}
            )
        ),
        kept AS (
            SELECT source, g FROM grams
            WHERE g IN (SELECT g FROM grams GROUP BY g
                        HAVING COUNT(*) <= {SOURCE_CAP})
        ),
        totals AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM kept GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_grams
            FROM kept a JOIN kept b
              ON a.g = b.g AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT p.source_a, p.source_b, p.shared_grams,
               ta.n_grams AS grams_a, tb.n_grams AS grams_b,
               CAST((1000000 * p.shared_grams)
                    // least(ta.n_grams, tb.n_grams) AS BIGINT)
                   AS overlap_ppm
        FROM pairs p
        JOIN totals ta ON ta.source = p.source_a
        JOIN totals tb ON tb.source = p.source_b
        ORDER BY p.source_a, p.source_b
    """,
}
