"""Deduplication operators for LLM training-data pipelines.

Beyond-reference scope: the reference dedups only *change events* by key
within a time window (reference: src/ingestion/change_detection.py:93-134);
a corpus pipeline needs content-level dedup. Implemented tiers, cheapest
first:

1. **exact** — md5 content hash, keep lowest id per hash. One shuffle on
   the hash (uniformly distributed → no skew at 100 TB).
2. **n-gram Jaccard** — word-shingle overlap join within a blocking key.
   Explode-join-aggregate; the blocking key bounds the candidate set so
   the join never goes quadratic.
3. **MinHash + LSH** — signature = per-seed minimum of md5(shingle#seed)
   (lexicographic min of a uniform hash ≈ classic minhash); signatures
   are banded and only band-collisions are verified with exact Jaccard.
   Candidate generation is a self-equi-join on (band_id, band_key) — at
   100 TB this is THE way: cost scales with collisions, not pairs.
4. **SimHash** — 64-bit sign-of-weighted-bit-sums over token hashes;
   near-dups have small Hamming distance, verified with bit_count(xor).

Every step is a pure column expression or an equi-join — no UDFs — and
uses only md5/bit arithmetic shared with ANSI engines, so all four tiers
are oracle-checkable against DuckDB (rare for MinHash implementations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

import logging

from .textstats import word_ngrams, ws_tokens

logger = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def content_hash(*cols: str, sep: str = "\x1f") -> Column:
    """md5 over the concatenated columns (unit-separator delimited)."""
    return F.md5(F.concat_ws(sep, *[F.col(c) for c in cols]))


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (lowest id) per distinct content hash.

    groupBy-min + semi-join keeps the plan all-equi-join (AQE can turn
    the join into broadcast when the survivor set is small); a window
    over the hash would work too but offers no partial aggregation.
    """
    hashed = df.withColumn("__h", content_hash(*content_cols))
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, [ "__h", id_col], "left_semi")
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text as an array column, in
    first-occurrence order; the empty array for a null text or one with
    fewer than n tokens. The n-grams come from ``word_ngrams``, whose
    lambda refers to nothing computed outside it: the text is trimmed
    and split a fixed number of times per document (for the guard and
    for each of the n slices), where a lambda that sliced the token
    expression itself split it once per shingle (NOTES.md)."""
    return F.array_distinct(word_ngrams(ws_tokens(text), n))


def with_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingles, n_shingles) for docs with at least one shingle.

    The row filter is the CHEAP equivalent predicate ``size(tokens) >=
    n`` (a doc has a shingle iff it has at least n tokens), applied
    BEFORE the shingle projection: filtering on ``size(shingles) > 0``
    after it made Catalyst push the predicate through the projection by
    substitution, re-evaluating the whole interpreted shingle HOF tree
    once per row in the Filter on top of the Project's own evaluation —
    measured 6.5x the projection-only wall at sf0.1 (r13). No lambda of
    the projection tokenizes (``word_shingles``), so the projection
    splits each document a fixed number of times whatever its length."""
    return (
        df.where(F.size(ws_tokens(F.col(text_col))) >= n)
        .select(F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )


def _shingle_keys() -> Column:
    """One row per entry of the ``shingles`` array: the first 16 hex
    chars (64 bits) of the shingle's md5. Joins on this key instead of
    the raw n-word string, so the shuffle carries 16 fixed chars. Parity
    with the oracle is exact by construction: both engines hash with
    md5, so any (negligible, ~n²/2^64) collision affects both alike."""
    return F.explode(
        F.transform("shingles", lambda s: F.substring(F.md5(s), 1, 16))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (corpus vs eval-set n-gram collision)
# ---------------------------------------------------------------------------


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_common: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark-decontamination probe: (document, benchmark-item) pairs
    sharing at least ``min_common`` distinct word ``n``-grams — the
    published pre-training contamination rule (n-gram collision against
    evaluation sets; 13-grams is the classic choice). Emits ``n_common``
    and ``contamination_frac`` = n_common / the BENCHMARK item's distinct
    n-grams — i.e. how much of the eval item leaked — so a verbatim
    benchmark item embedded in an arbitrarily long web page still scores
    ≈ 1 (normalizing by the document's n-gram count would score that
    canonical leak near 0 and a drop-at-1 rule would keep it).

    Shape: each side shingles to DISTINCT n-grams, explodes, and joins on
    a 16-hex-char md5 prefix of the n-gram (the shuffle carries 16 fixed
    chars, not the raw 13-word string) followed by a partial-aggregated
    (doc, bench) count. Benchmark sets are evaluation suites — orders of
    magnitude smaller than the corpus — so AQE broadcasts that side at
    runtime and the corpus side never shuffles more than its exploded
    hash stream; cost scales with corpus n-gram volume, not with
    |corpus| × |benchmark|.
    """
    c = with_shingles(corpus, n, text_col, id_col).select(
        F.col(id_col), _shingle_keys().alias("__g")
    )
    b = with_shingles(benchmark, n, text_col, id_col).select(
        F.col(id_col).alias(bench_id_col),
        F.col("n_shingles").alias("__bench_n"),
        _shingle_keys().alias("__g"),
    )
    hits = (
        c.join(b, "__g")
        .groupBy(id_col, bench_id_col, "__bench_n")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        hits.where(F.col("n_common") >= min_common)
        .select(
            id_col,
            bench_id_col,
            "n_common",
            F.round(F.col("n_common") / F.col("__bench_n"), 6).alias(
                "contamination_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# cross-document repeated spans (boilerplate detection / inverted index)
# ---------------------------------------------------------------------------


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    max_postings: int = 20,
    posting_df_cap: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word ``n``-grams that repeat across documents — the C4-style
    "span occurring in more than one document" boilerplate probe, with a
    bounded inverted-index posting list per gram. Returns
    ``(gram, df, postings)`` where ``df`` counts distinct documents
    containing the gram (each document contributes its DISTINCT grams
    once, via ``word_shingles``) and ``postings`` is the comma-joined
    ascending doc-id list, truncated to ``max_postings`` entries.

    Shape: two partial-aggregated shuffles on the gram string. Pass 1
    computes ``df`` with a plain count — map-side combine keeps a
    universal boilerplate gram ("click here to subscribe" in 10^9 docs)
    from concentrating rows on one reducer. Pass 2 builds posting lists
    ONLY for grams whose df ≤ ``posting_df_cap`` (a join against the
    pass-1 survivors), so the per-gram ``collect_list`` state is bounded
    by the cap, never by corpus size; over-cap grams keep df but get a
    NULL posting list. Never quadratic, no windows, no unbounded state.

    The two passes deliberately re-scan the input (no ReuseExchange:
    column pruning gives the df pass a gram-only subtree and the
    posting pass a (doc_id, gram) subtree, so the exchanges are not
    identical). The alternative — one repartition("gram") feeding both
    aggregations — would share the shuffle but move it BEFORE partial
    aggregation, sending every raw (doc, gram) row of a hot gram to a
    single reducer; re-scanning a map-side-combined explode is the
    safer trade at corpus scale.
    """
    exploded = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
    )
    dfreq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    kept = dfreq.where(F.col("df") >= min_docs)
    postable = kept.where(F.col("df") <= posting_df_cap).select("gram")
    postings = (
        exploded.join(postable, "gram")
        .groupBy("gram")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list(F.col(id_col))), 1, max_postings),
                ",",
            ).alias("postings")
        )
    )
    return kept.join(postings, "gram", "left").select("gram", "df", "postings")


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked pairwise)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard ≥ threshold.

    With a ``block_col``, candidate pairs are restricted to the same
    blocking key and Jaccard is exact within the block — the verify tier
    for corpora with a natural partitioner (source, language). The
    within-block join is quadratic, so a block must stay bounded; a
    single giant block (one source with billions of docs at 100 TB) is
    exactly the case the unblocked path exists for.

    With ``block_col=None`` (default), candidates come from MinHash-LSH
    band collisions (``num_perm``/``bands``) and every candidate is
    verified with exact Jaccard — cost scales with collisions, not
    pairs. Candidate recall for true Jaccard t is 1-(1-t^r)^b with
    r = num_perm/bands; the defaults (r=2, b=8) give >0.99 recall at
    t ≥ 0.5."""
    if block_col is None:
        return minhash_lsh_pairs(
            df,
            num_perm=num_perm,
            bands=bands,
            threshold=threshold,
            n=n,
            text_col=text_col,
            id_col=id_col,
        )
    # cheap-predicate filter BEFORE the shingle projection — see
    # with_shingles (avoids re-evaluating the shingle HOF in the Filter)
    sh = (
        df.where(F.size(ws_tokens(F.col(text_col))) >= n)
        .select(id_col, block_col, word_shingles(F.col(text_col), n).alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )
    ex = sh.select(id_col, block_col, "n_shingles", _shingle_keys().alias("s"))
    a = ex.alias("a")
    b = ex.alias("b")
    cond = (
        (F.col("a.s") == F.col("b.s"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    )
    common = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_shingles").alias("n_a"),
            F.col("b.n_shingles").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .where(F.round(jac, 4) >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: modulus for the double-hashing permutation family (2^32)
_MH_MOD = 1 << 32


def minhash_signature(shingles: Column, num_perm: int = 12) -> Column:
    """Array of ``num_perm`` minhashes via Kirsch-Mitzenmacher double
    hashing: md5(shingle) once yields two 32-bit halves (h1, h2); the
    i-th permutation hash is (h1 + i·h2) mod 2^32 and the signature entry
    is its min over shingles (null for an empty array). One md5 per
    shingle instead of num_perm, and still pure builtins, so the DuckDB
    oracle reproduces it exactly.

    One left fold over the (h1, h2) array carries all num_perm running
    minima at once (``zip_with`` against the seed sequence): a single
    traversal instead of num_perm ``array_min`` passes. The md5 and
    (h1, h2) arrays are ``transform`` results passed as the fold's
    ARGUMENT, which is evaluated once per row; inside a lambda they
    would be re-evaluated per seed. min is associative and commutative
    and ``least`` skips the null start value, so the values equal the
    per-seed formulation the oracle mirrors."""
    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    hashes = F.transform(shingles, F.md5)
    halves = F.transform(
        hashes,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    return F.aggregate(
        halves,
        F.array_repeat(F.lit(None).cast("long"), num_perm),
        lambda acc, p: F.zip_with(
            acc,
            seeds,
            lambda a, i: F.least(
                a, F.pmod(p["h1"] + i.cast("long") * p["h2"], F.lit(_MH_MOD))
            ),
        ),
    )


def minhash_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Hash each band (``rows`` consecutive signature entries) to a key;
    docs sharing any (band_id, key) become candidate pairs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.md5(
            F.array_join(
                F.transform(F.slice(sig, j * rows + 1, rows), lambda x: x.cast("string")),
                "",
            )
        ),
    )


def _banded_signatures(
    df: DataFrame,
    num_perm: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, n_shingles, shingles, band_id, band_key) — the shared
    MinHash-LSH front half: shingle → signature → exploded band keys.
    Factored out so the self-join (``minhash_lsh_pairs``) and the
    incremental new-vs-corpus join (``minhash_lsh_pairs_between``)
    produce band keys from the identical expression tree."""
    rows = num_perm // bands
    sig = with_shingles(df, n, text_col, id_col).withColumn(
        "sig", minhash_signature(F.col("shingles"), num_perm)
    )
    # Carry the shingle arrays through the band join: in the self-join
    # both sides are the IDENTICAL subtree hash-partitioned on
    # (band_id, band_key), so ReuseExchange computes shingling +
    # signatures ONCE — cheaper than re-deriving arrays via two extra
    # joins after candidate generation.
    return sig.select(
        id_col,
        "n_shingles",
        "shingles",
        F.posexplode(minhash_band_keys(F.col("sig"), bands, rows)).alias(
            "band_id", "band_key"
        ),
    )


def _verify_then_dedup(
    cand: DataFrame, threshold: float, pair: tuple[str, str] = ("doc_a", "doc_b")
) -> DataFrame:
    """(pair[0], pair[1], jaccard) from band-collision rows that carry
    both shingle arrays (``sh_a``/``sh_b``) and sizes (``n_a``/``n_b``):
    the shared verify half of the self-join and the new-vs-corpus join.

    Verifies exact Jaccard BEFORE the cross-band pair dedup, so the
    dedup shuffle carries (id_a, id_b, jaccard) — ~20 bytes/row —
    instead of both shingle arrays (guide: project before the
    exchange). Three pieces, all value-preserving:

    * a CHEAP size-ratio prefilter: jaccard = c/(n_a+n_b-c) with
      c ≤ min(n_a, n_b) and n_a+n_b-c ≥ max(n_a, n_b), so
      jaccard ≤ min/max — rows failing the bound cannot pass and die on
      the map side for two integer ops, no array work. The prefilter
      compares ``round(min/max, 4) >= threshold`` — the SAME rounding
      as the final filter (r14 fix): round is monotone, so
      round(jac,4) ≥ threshold ⟹ round(min/max,4) ≥ threshold and the
      prefilter can never drop a pair the final filter keeps. The raw
      ``min/max >= threshold`` form could: a pair with true jaccard and
      size ratio both in [threshold−5e-5, threshold) rounds UP past the
      final filter but failed the unrounded bound (pinned in
      tests/test_llm_ops.py::test_verify_then_dedup_rounding_boundary);
    * the exact jaccard moves INTO the pair aggregation (first() over
      band-collision rows, which all agree) — evaluated exactly once
      per collision row in the partial aggregate's input projection. A
      plain select-then-where evaluated the array_intersect TWICE per
      row (Catalyst pushes the filter through the projection by
      substitution — the with_shingles lesson);
    * the threshold filter sits ABOVE the aggregate, where pushdown
      cannot duplicate it (predicates on aggregate outputs stay put).

    dedup-then-verify and verify-then-dedup yield identical rows
    because jaccard is a function of the pair."""
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.where(
            F.round(
                F.least(F.col("n_a"), F.col("n_b"))
                / F.greatest(F.col("n_a"), F.col("n_b")),
                4,
            )
            >= threshold
        )
        .groupBy(*pair)
        .agg(F.first(F.round(jac, 4)).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH candidates + exact-Jaccard
    verification. ``bands`` must divide ``num_perm``; candidate recall is
    1-(1-t^rows)^bands for true Jaccard t.

    The band candidate join is pinned to sort-merge (``hint("merge")``,
    the same pin ``simhash_pairs`` carries since round 2): left to AQE,
    a broadcast choice serializes the banded build side through the
    driver AND defeats ReuseExchange on the identical self-join subtree,
    re-computing shingling+signatures twice — measured 2.7x wall at 10x
    input (NOTES.md, MinHash shuffle shapes). SMJ is also the only
    shape that survives a corpus-scale build side.

    Every banded row carries its shingle array through the join, so
    verification needs no second join and the self-join sides stay the
    identical subtree (ReuseExchange computes signatures once). Shuffle
    volume is ~bands x corpus shingle bytes: 146 MB at 12/3 on a 10x
    corpus (NOTES.md, MinHash shapes under forced SMJ).
    """
    banded = _banded_signatures(df, num_perm, bands, n, text_col, id_col)
    a = banded.alias("a")
    b = banded.hint("merge").alias("b")
    cand = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.shingles").alias("sh_a"),
        F.col("a.n_shingles").alias("n_a"),
        F.col("b.shingles").alias("sh_b"),
        F.col("b.n_shingles").alias("n_b"),
    )
    # verify each band collision map-side, THEN dedup the slim
    # (doc_a, doc_b, jaccard) rows — the cross-band dedup shuffle no
    # longer carries shingle arrays (guide §2.3)
    return _verify_then_dedup(cand, threshold)


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    num_perm: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup detection: (corpus_id, new_id, jaccard) for
    every NEW document whose shingle Jaccard against an EXISTING corpus
    document clears ``threshold`` — the daily-ingest shape at 100 TB,
    where re-deduplicating the whole corpus per batch is off the table.

    Cost: the corpus side pays one banded-signature pass (amortizable:
    persist its band table and this becomes an index lookup), the new
    side is batch-sized, and the band equi-join's candidate volume
    scales with true collisions exactly as in the self-join case. No
    corpus×corpus or corpus×batch pair ever materializes.
    """
    nb = _banded_signatures(new_df, num_perm, bands, n, text_col, id_col)
    cb = _banded_signatures(corpus_df, num_perm, bands, n, text_col, id_col)
    c = cb.alias("c")
    b = nb.alias("b")
    cand = c.join(
        b,
        (F.col("c.band_id") == F.col("b.band_id"))
        & (F.col("c.band_key") == F.col("b.band_key")),
    ).select(
        F.col(f"c.{id_col}").alias("corpus_id"),
        F.col(f"b.{id_col}").alias("new_id"),
        F.col("c.shingles").alias("sh_a"),
        F.col("c.n_shingles").alias("n_a"),
        F.col("b.shingles").alias("sh_b"),
        F.col("b.n_shingles").alias("n_b"),
    )
    return _verify_then_dedup(cand, threshold, ("corpus_id", "new_id"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: fingerprint width. 64 since round 3 (was 32): at corpus scale the band
#: width is bits/(max_hamming+1), and 32-bit fingerprints left only 4-5
#: bits of selectivity per band at max_hamming=6 — random collisions then
#: dominate candidate generation. 64 bits keep every band ≥ 9 bits.
SIMHASH_BITS = 64


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over whitespace tokens.
    Token hash = md5 hex chars as integers (engine-portable): bits 0-31
    vote from the first 8 hex chars, bits 32-63 from the next 8; result
    bit i is the sign of the ±1 vote sum across tokens at bit i. Bit 63
    lands on the sign bit of the long — the fingerprint is the
    two's-complement 64-bit value (negative when bit 63 is set), which
    xor/bit_count handle identically in Spark and ANSI engines.

    Shape: explode → single groupBy with 64 sum aggregates. The
    partial (map-side) aggregation means the shuffle carries one row of
    64 longs per document, not one row per token — the scalable form.
    """
    extra = extra_cols or []
    # md5 lands in its OWN projection alias so both 32-bit halves slice
    # the same digest — CollapseProject keeps non-cheap aliases
    # referenced twice un-inlined (the _banded_signatures precedent), so
    # md5 runs once per token instead of once per half (r13, guide §1.2)
    tok = (
        df.select(
            F.col(id_col), *extra, F.explode(ws_tokens(F.col(text_col))).alias("t")
        )
        .withColumn("m", F.md5("t"))
        .withColumn("h1", F.conv(F.substring("m", 1, 8), 16, 10).cast("long"))
        .withColumn("h2", F.conv(F.substring("m", 9, 8), 16, 10).cast("long"))
    )

    def _bit(i: int) -> Column:
        src, off = ("h1", i) if i < 32 else ("h2", i - 32)
        return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(_bit(i) == 1, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    voted = tok.groupBy(id_col, *extra).agg(*votes)
    # bit 63 is the long's sign bit: adding -(2^63) for it (instead of an
    # unrepresentable +2^63) yields the correct two's-complement value
    sh = sum(
        [
            F.when(
                F.col(f"v{i}") > 0,
                F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_BITS)
        ],
        start=F.lit(0).cast("long"),
    )
    return voted.select(id_col, *extra, sh.alias("sh"))


def simhash_band_values(sh: Column, bands: int = 4) -> Column:
    """Array of ``bands`` disjoint bit-range values of the simhash.

    Pigeonhole banding for exact Hamming search: split the 64-bit
    fingerprint into ``bands`` disjoint ranges (widths as equal as
    possible). If hamming(a, b) ≤ bands-1 then at least one band holds
    zero differing bits, i.e. the pair collides on some (band_id,
    band_value) — candidate recall is exactly 1.0, unlike MinHash bands.
    """
    base, rem = divmod(SIMHASH_BITS, bands)
    out, start = [], 0
    for j in range(bands):
        width = base + (1 if j < rem else 0)
        shifted = F.shiftright(sh, start)
        if width >= 64:
            # full-width band (bands=1): the mask 2^64-1 is not a
            # representable long literal, and no masking is needed
            out.append(shifted.cast("long"))
        else:
            mask = (1 << width) - 1
            out.append(shifted.bitwiseAND(F.lit(mask)).cast("long"))
        start += width
    return F.array(*out)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    block_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation is byte-prefix banding (``simhash_band_values``
    with ``max_hamming + 1`` bands): an equi-join on (band_id,
    band_value), never a quadratic self-join, and the pigeonhole bound
    makes it EXACT — every qualifying pair collides in some band, so the
    result equals the all-pairs answer at any scale. Survivors are
    verified with ``bit_count(xor)`` and deduped across bands.

    An optional ``block_col`` further restricts candidates (conjunctive).
    Scale note: 64-bit fingerprints keep every band ≥ 9 bits of
    selectivity at max_hamming=6 — the 100 TB shape."""
    bands = max_hamming + 1
    extra = [block_col] if block_col else []
    sh = simhash_table(df, text_col=text_col, id_col=id_col, extra_cols=extra)
    banded = sh.select(
        id_col,
        *extra,
        "sh",
        F.posexplode(simhash_band_values(F.col("sh"), bands)).alias(
            "band_id", "band_value"
        ),
    )
    # Pin the candidate join to sort-merge: AQE otherwise broadcasts one
    # side, which serializes a duplicate fingerprint computation through
    # the driver (measured 2× slower at sf0.1) and caps the build side by
    # driver memory at scale. SMJ shuffles both (identical) subtrees on
    # the band key — partition-parallel at any corpus size.
    a, b = banded.alias("a"), banded.hint("merge").alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_value") == F.col("b.band_value"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# dedup clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def _checkpoint_with_label_sum(labels: DataFrame) -> tuple[DataFrame, object]:
    """(localCheckpoint of ``labels``, exact decimal sum of its labels).
    The sum is an ``Observation`` on the frame the checkpoint
    materializes, so it costs no job of its own. ``localCheckpoint``
    runs its job as a named action, which completes the observation
    (also on an empty frame, where the sum is null)."""
    obs = Observation()
    out = labels.observe(
        obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).localCheckpoint()
    return out, obs.get["s"]


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: (doc_id, cluster_id)
    where cluster_id = the minimum doc id reachable through the pair
    graph (connected components).

    Min-label propagation WITH POINTER JUMPING: each round first takes
    the minimum label over every node's neighborhood, then shortcuts
    each node to its label's label (``l(u) <- l(l(u))``, the classic
    parallel pointer-doubling step). Neighbor-min alone converges in
    O(component diameter) rounds — the pre-r04 loop capped at 20 and
    silently mislabeled high-diameter components; the shortcut halves
    the label-forest height every round, giving O(log n) rounds on ANY
    topology. The r04 large-star/small-star attempt was diameter-robust
    too but re-shuffled the whole edge list ~6 times per round (52 s at
    sf0.1 vs ~7 s for this shape) — pointer jumping gets the same bound
    from one extra node-keyed join per round. `localCheckpoint`
    truncates lineage so round N doesn't replay rounds 1..N-1.

    Correctness at the fixpoint (no label changed): labels only
    decrease and always name a node of the same component, and stability
    under neighbor-min over symmetric edges forces l(u) = l(v) across
    every edge, so the constant label is the component minimum.

    Round shape (r13 optimization, values identical): the edge set is
    augmented with one SELF-LOOP per node, so the neighbor-min
    aggregation alone yields least(own label, neighborhood min) — the
    separate labels-to-neighbor_min left join of the pre-r13 loop is
    gone (one join and its two exchanges per round removed). The edge
    table is hash-partitioned on the per-round join key (dst) before
    its one-time materialization, and localCheckpoint preserves that
    partitioning, so no round re-shuffles the edges. Convergence is
    detected by the exact decimal sum of labels: labels are
    non-increasing, so the sum is strictly decreasing until the
    fixpoint and constant at it. Each sum (the initial labels' and every
    round's) is an ``Observation`` on the frame that round's
    ``localCheckpoint`` materializes, so testing convergence adds no
    job to the round.
    """
    base = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = base.select(F.col("src").alias("id")).distinct()
    # self-loops make the neighborhood of u include u itself, folding
    # the old least(label, nbr_label) into the single min aggregate
    edges = (
        base.unionByName(
            nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
        .repartition("dst")
        .localCheckpoint()
    )
    labels, prev_sum = _checkpoint_with_label_sum(
        nodes.withColumn("label", F.col("id"))
    )
    converged = False
    for _ in range(max_iterations):
        mid = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("mid"))
        )
        # pointer jump: follow the just-updated label one more hop.
        # The parent side is the SAME aggregation subtree keyed on its
        # own grouping column, so it adds no exchange of its own.
        m = mid.alias("m")
        p = mid.alias("p")
        labels, new_sum = _checkpoint_with_label_sum(
            m.join(p, F.col("m.mid") == F.col("p.src"), "left").select(
                F.col("m.src").alias("id"),
                F.least(
                    F.col("m.mid"),
                    F.coalesce(F.col("p.mid"), F.col("m.mid")),
                ).alias("label"),
            )
        )
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        logger.warning(
            "dedup_clusters exited after %d rounds without a proven "
            "fixpoint (pointer jumping needs O(log n) rounds) — raise "
            "max_iterations",
            max_iterations,
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Filter the corpus to one representative per cluster (the minimum
    id) plus all unclustered docs — the final step of corpus dedup."""
    drop = clusters.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# synthetic near-duplicate planting (test/verification support)
# ---------------------------------------------------------------------------


def plant_near_dups(
    df: DataFrame,
    every: int = 50,
    id_offset: int = 10_000_000,
    drop_words: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Union the corpus with deterministic near-copies (first ``drop_words``
    words removed) of every ``every``-th document — gives dedup queries
    known positives to find, with reproducible ids."""
    toks = ws_tokens(F.col(text_col))
    mutated = (
        df.where((F.col(id_col) % every == 0) & (F.size(toks) > drop_words))
        .withColumn(id_col, F.col(id_col) + id_offset)
        .withColumn(
            text_col,
            F.array_join(F.slice(toks, drop_words + 1, F.size(toks) - drop_words), " "),
        )
    )
    return df.unionByName(mutated)
