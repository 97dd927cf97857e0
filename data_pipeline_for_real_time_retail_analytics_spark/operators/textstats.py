"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference scope (the reference's text handling stops at regex
validation rules, reference: src/ingestion/validators.py:253-267); these
are the operators a 100 TB web-scale corpus pipeline needs: token
counting, n-gram-heuristic language ID, quality scoring, and document
fingerprinting.

Design rules for scale:
- everything is a *pure column expression* over the text column — no
  Python UDFs, no shuffles; whole-stage codegen keeps the hot path in
  the JVM, and the plan is embarrassingly parallel at any data size;
- only deterministic builtins shared with ANSI SQL are used, so every
  operator is oracle-checkable against DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

#: regex for "BPE-ish" word/punctuation pieces (ASCII classes only, so the
#: count is identical across regex engines)
BPE_TOKEN_RE = "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), r"\s+")


def word_ngrams(toks: Column, n: int) -> Column:
    """Overlapping word ``n``-grams of a token array, space-joined, in
    token order; the empty array when it has fewer than ``n`` tokens.

    Built as the ``n`` shifted slices of ``toks`` zipped together, so the
    lambda only joins the fields of one zipped element and refers to
    nothing computed outside it. Catalyst does not eliminate common
    subexpressions inside a higher-order-function lambda: a lambda that
    sliced ``toks`` itself re-evaluated the whole token expression (trim
    and regex split, when ``toks`` is ``ws_tokens(text)``) once per
    n-gram. The CASE guard is evaluated first, so the slice length is
    never negative."""
    k = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, k) for i in range(n)])
    grams = F.transform(
        zipped, lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics: whitespace token count, a BPE-ish
    regex token count, char count, and mean token length."""
    toks = ws_tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(toks).alias("n_tokens_ws"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE)).alias("n_tokens_bpe"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# language identification (stopword-lexicon n-gram heuristic)
# ---------------------------------------------------------------------------

#: tiny high-frequency-word lexicons; a scale deployment swaps in real
#: fastText-style profiles, the operator shape is identical
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "de": ("der", "die", "und", "den", "von", "das", "mit", "dem", "ist", "ein"),
}


def _lexicon_hits(toks: Column, lexicon: tuple[str, ...]) -> Column:
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, F.lower(t))))


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Predict language by stopword-lexicon hit counts; ties resolve in
    fixed lexicon order, zero hits → ``und`` (undetermined)."""
    toks = ws_tokens(F.col(text_col))
    scored = df.select(
        F.col(id_col),
        *[
            _lexicon_hits(toks, lex).alias(f"score_{lang}")
            for lang, lex in LANG_LEXICONS.items()
        ],
    )
    langs = list(LANG_LEXICONS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    # build CASE from last to first so earlier lexicons win ties
    for lang in reversed(langs):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), lang).otherwise(pred)
    return scored.select(id_col, *[f"score_{l}" for l in langs], pred.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword
    ratio, punctuation ratio → four equal-weight indicator points.

    Mirrors the shape of published corpus-cleaning heuristics (length and
    symbol-ratio filters); the exact thresholds are config, not truth.
    """
    toks = ws_tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / n_tokens
    stop_ratio = _lexicon_hits(toks, LANG_LEXICONS["en"]) / n_tokens
    punct_ratio = F.regexp_count(F.col(text_col), F.lit("[^A-Za-z0-9 \\t\\n]")) / n_chars

    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 10000), 0.25).otherwise(0.0)
        + F.when((mean_tok >= 2.0) & (mean_tok <= 12.0), 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 0.25).otherwise(0.0)
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        score.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling hash)
# ---------------------------------------------------------------------------

FP_MOD = 1_000_000_007
FP_BASE = 31


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Polynomial rolling hash over character codes:
    ``h = fold(h * 31 + code) mod 1e9+7`` — a deterministic 61-bit-safe
    content fingerprint computable by any engine (no engine-specific hash
    function), usable as a cheap exact-dup / shard-routing key."""
    fingerprint = F.expr(
        f"aggregate(transform(sequence(1, length({text_col})), "
        f"i -> ascii(substring({text_col}, i, 1))), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})"
    )
    return df.select(F.col(id_col), fingerprint.alias("fingerprint"))


# ---------------------------------------------------------------------------
# distributional quality signals: token entropy, Benford digit profile
# ---------------------------------------------------------------------------


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the whitespace-token
    distribution — the classic low-information-content filter: boilerplate
    and keyword-stuffed spam score low, natural prose scores high.

    Shape: explode → per-(doc, token) count → per-doc -Σ p·log2 p. Two
    partial-aggregated shuffles keyed by doc id; no token list ever
    returns to the driver, so the plan is flat at any corpus size.
    """
    tok = df.select(F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("t"))
    per_tok = tok.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    # quantize each c·log2(c) addend to an exact micro-unit BIGINT
    # BEFORE the per-doc sum (the bm25.py discipline): a multi-addend
    # double SUM is fold-order-dependent (IEEE addition is commutative
    # but NOT associative), so Spark's partial aggregation and an
    # oracle's scan-order sum could round apart at a 0.5e-6 boundary.
    # Each addend is the same deterministic double on both engines, the
    # quantized integers agree exactly, and integer addition is
    # associative — fold-order-independent by construction.
    clog_micro = F.round(
        F.col("c") * F.log2(F.col("c")) * F.lit(1_000_000.0), 0
    ).cast("long")
    per_doc = per_tok.groupBy(id_col).agg(
        F.sum("c").alias("n"),
        F.sum(clog_micro).alias("sum_clog_micro"),
    )
    # H = log2(n) - (Σ c·log2 c)/n  (algebraic form avoids a third pass)
    h = (
        F.log2(F.col("n"))
        - (F.col("sum_clog_micro").cast("double") / F.lit(1_000_000.0))
        / F.col("n")
    )
    return per_doc.select(
        id_col,
        F.col("n").alias("n_tokens"),
        F.round(h, 6).alias("token_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# document chunking (token windows with overlap)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard LLM training-data preprocessing step (context-window
    packing input). Chunk i covers tokens ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap``; the last
    chunk may be short; every document yields at least one chunk.

    Pure generator expansion per row (``posexplode`` over a computed
    index sequence — no shuffle, no UDF); chunk count uses exact integer
    arithmetic so any engine agrees on the boundaries.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    with_toks = df.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("__toks")
    ).withColumn(
        "__n_chunks",
        F.expr(
            f"(greatest(size(__toks) - {chunk_tokens}, 0) + {stride - 1}) "
            f"div {stride} + 1"
        ),
    )
    piece = F.expr(f"slice(__toks, chunk_id * {stride} + 1, {chunk_tokens})")
    return (
        with_toks.select(
            F.col(id_col),
            F.expr("explode(sequence(0, __n_chunks - 1))").alias("chunk_id"),
            F.col("__toks"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.size(piece).alias("n_tokens"),
            F.concat_ws(" ", piece).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (corpus-level term weighting)
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smoothed idf:
    ``ln((N+1)/(df+1)) + 1``; score = raw term count × idf; ties broken
    by term ascending).

    Shape: explode → (doc, term) counts → term doc-frequencies → join on
    term → per-doc top-k window. Three partial-aggregated shuffles plus
    one window shuffle on doc id; the doc-frequency side is a distinct
    per-term aggregate (bounded by vocabulary, not corpus size), so the
    join is skew-safe and AQE broadcast-eligible at any corpus scale.
    ``N`` is a scalar subquery over ``df``, so the count runs inside the
    plan's execution and building the plan starts no job.
    """
    tok = df.select(
        F.col(id_col), F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf already carries exactly ONE row per (doc, term), so document
    # frequency is a plain count over it — no second explode of the
    # corpus and no distinct shuffle (both existed here before r5; the
    # values are identical by construction)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1))).scalar()
    idf = F.log((n_docs + 1).cast("double") / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        (F.col("tf") * idf).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "term",
            "tf",
            "df",
            F.round("score", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# repetition ratio + composite corpus filter (Gopher/C4-style gates)
# ---------------------------------------------------------------------------


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicate n-gram fractions — the published repetition
    filter for web corpora (boilerplate, scraper loops, and SEO spam show
    high duplicate-bigram/trigram fractions; see Gopher's repetition
    gates): ``dup_ngram_frac = 1 - distinct/total`` for n ∈ {2, 3}.

    Pure column expressions per row (no explode, no shuffle): the n-gram
    arrays live only inside the projection, so the plan stays
    embarrassingly parallel at corpus scale. Each n-gram array is built in
    its OWN projection and referenced by attribute in the dup-fraction
    expressions — higher-order-function lambdas sit outside whole-stage
    codegen subexpression elimination, so inlining the transform() three
    times (size / distinct / guard) would materialize the array up to 3×
    per row. CollapseProject keeps the split because the alias is
    non-cheap and multiply referenced (same trick as the MinHash (h1,h2)
    projection in operators/dedup.py).
    """
    with_grams = df.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.size(F.col("__toks")).alias("n_tokens"),
        word_ngrams(F.col("__toks"), 2).alias("__bi"),
        word_ngrams(F.col("__toks"), 3).alias("__tri"),
    )
    return with_grams.select(
        F.col(id_col),
        "n_tokens",
        *[
            F.round(
                F.when(
                    F.size(F.col(g)) > 0,
                    1.0 - F.size(F.array_distinct(F.col(g))) / F.size(F.col(g)),
                ).otherwise(0.0),
                6,
            ).alias(f"dup_{name}_frac")
            for g, name in (("__bi", "bigram"), ("__tri", "trigram"))
        ],
    )


def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    min_alpha_token_frac: float = 0.6,
    max_dup_trigram_frac: float = 0.3,
) -> DataFrame:
    """Composite keep/drop gate in the C4/Gopher style: token-count
    bounds, mean-token-length bounds, minimum fraction of tokens
    containing a letter, and a duplicate-trigram ceiling. Emits each
    signal plus the final ``keep`` flag so a pipeline can both filter and
    audit *why* documents dropped. Thresholds are config, not truth.

    Shuffle-free per-row projections — composes with
    ``repetition_ratio``'s n-gram expressions. The trigram array gets its
    own projection (referenced 3× by the dup fraction; see
    ``repetition_ratio`` on why the split avoids re-materializing it),
    and ``keep`` is NULL-coalesced to false so NULL-text documents are
    explicitly DROPPED rather than surfacing three-valued-logic NULLs to
    consumers that count ``keep = false`` rejections or write to
    non-nullable columns.
    """
    with_grams = df.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.col("__toks"),
        word_ngrams(F.col("__toks"), 3).alias("__tri"),
    )
    n_tokens = F.size(F.col("__toks"))
    mean_tok = F.aggregate(
        F.col("__toks"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    ) / n_tokens
    alpha_frac = (
        F.size(F.filter(F.col("__toks"), lambda t: t.rlike("[A-Za-z]"))) / n_tokens
    )
    tri = F.col("__tri")
    dup_tri = F.when(
        F.size(tri) > 0,
        1.0 - F.size(F.array_distinct(tri)) / F.size(tri),
    ).otherwise(0.0)
    keep = (
        (n_tokens >= min_tokens)
        & (n_tokens <= max_tokens)
        & (mean_tok >= min_mean_token_len)
        & (mean_tok <= max_mean_token_len)
        & (alpha_frac >= min_alpha_token_frac)
        & (dup_tri <= max_dup_trigram_frac)
    )
    return with_grams.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 4).alias("mean_token_len"),
        F.round(alpha_frac, 4).alias("alpha_token_frac"),
        F.round(dup_tri, 6).alias("dup_trigram_frac"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


#: Benford's law expected first-significant-digit frequencies, log10(1+1/d)
BENFORD_EXPECTED = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive numeric column
    vs Benford's law — a cheap anomaly probe for financial/metric columns
    (fabricated or truncated data deviates hard). Returns one row per
    digit 1-9 with observed and expected frequencies and the deviation.

    Single partial-aggregated shuffle of ≤9 groups; the digit extraction
    is string-free arithmetic (value / 10^floor(log10 v)), exact for any
    positive double.
    """
    v = F.col(value_col).cast("double")
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    counts = (
        df.where(v > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.select(
            "digit",
            "n",
            F.round(F.col("n") / total, 6).alias("observed_freq"),
            F.round(expected, 6).alias("benford_freq"),
            F.round(F.abs(F.col("n") / total - expected), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )
