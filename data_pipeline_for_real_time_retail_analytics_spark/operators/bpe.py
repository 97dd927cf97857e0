"""BPE tokenizer training — candidate mining plus the full iterative
merge loop, distributed the way production trainers run at corpus
scale.

Classic BPE (Sennrich et al. 2016) alternates (1) count all adjacent
symbol pairs across the corpus, weighted by word frequency, and
(2) merge the most frequent pair. Step (1) is the data-scale part and
the one worth distributing: at 100 TB the corpus pass reduces to the
word-frequency table FIRST (a vocab-bounded aggregate — Heaps' law
keeps distinct words sub-linear in corpus size), and pair enumeration
then runs over DISTINCT words only, weighted by their counts — never
over raw corpus positions. Step (2)'s argmax is a top-k over the pair
table. ``bpe_learn`` runs the full loop as a driver-side iteration
over these two bounded aggregates (n_merges × two small shuffles per
merge); ``bpe_top_merges`` is iteration 1's candidate table, the
driver-gated oracle pair (each further iteration is the same plan
shape over a rewritten vocab).

Both stages are integer counting on deterministic inputs — exact
cross-engine (DuckDB mirrors with the same substr enumeration), and
``bpe_learn`` is pinned equal to the literal reference algorithm in
tests.

Inference has two forms: ``bpe_segment`` (zero-Python expression
replay for small merge tables, single-pass rank-order semantics) and
``bpe_segment_vocab`` (the production path — broadcast greedy
longest-match against the trained symbol inventory, Arrow-batched);
``bpe_segment`` delegates to the latter past ``_REPLAY_LIMIT`` rules.
"""

from __future__ import annotations

import re

import pandas as pd  # deliberate Arrow surface: bpe_segment_vocab's UDF

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import ws_tokens

#: Java's ``\s`` class, verbatim — ``ws_tokens`` splits with the JVM
#: regex ``\s+``, which is ASCII-only ([ \t\n\x0B\f\r]). Python's
#: ``str.split()`` splits on ALL Unicode whitespace (NBSP U+00A0,
#: U+2000-U+200A, U+2028, ...), so a UDF using it would silently change
#: tokenization on multilingual text relative to every ws_tokens
#: consumer.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_ws_tokens(text: str) -> list[str]:
    """Pure-Python twin of ``ws_tokens`` (trim = leading/trailing
    SPACES only, exactly Spark's ``trim``; split = Java ``\\s+``).
    Used by every Python inference path so UDF tokenization can never
    drift from the expression paths on non-ASCII whitespace."""
    return _JAVA_WS.split(text.strip(" "))


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, wt): corpus word-frequency table over whitespace tokens —
    the vocab-bounded frame every BPE iteration re-reads instead of the
    corpus."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(ws_tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )


def _char_pairs(tok: Column) -> Column:
    """All adjacent character pairs of ``tok`` with multiplicity.

    Guarded for length < 2 (``sequence(1, 0)`` counts DOWN — the
    round-4 lesson), though callers should pre-filter for plan
    cleanliness.
    """
    return F.when(
        F.length(tok) >= 2,
        F.expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """(pair, n_occurrences): adjacent-character-pair counts over the
    corpus, weighted by word frequency — BPE iteration 1's candidate
    table. A pair occurring twice inside one word counts twice per word
    occurrence (the BPE multiplicity rule). Pass an already-computed
    (tok, wt) frame as ``word_freqs`` to skip the corpus pass (callers
    composing several tokenizer-prep stages should compute it once)."""
    vocab = (
        word_freqs
        if word_freqs is not None
        else word_frequencies(df, text_col)
    ).where(F.length("tok") >= 2)
    return (
        vocab.select("wt", F.explode(_char_pairs(F.col("tok"))).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wt").cast("long").alias("n_occurrences"))
    )


def bpe_top_merges(
    df: DataFrame,
    k: int,
    text_col: str = "text",
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """The top-``k`` merge candidates by weighted pair count, total
    order (count desc, pair asc) so the cut is deterministic."""
    return (
        bpe_pair_counts(df, text_col, word_freqs=word_freqs)
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(k)
    )


def _initial_symbols(tok: Column) -> Column:
    """Character-level initial symbol sequence of ``tok``."""
    return F.expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
    )


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """One BPE merge applied to a symbol array: replace adjacent
    (a, b) with a||b, greedy left-to-right, non-overlapping — the fold
    never lets a just-created symbol re-merge within the same pass
    (it compares SYMBOLS, and the merged symbol a||b ≠ a unless b is
    empty, which initial char symbols never are)."""
    a_lit, b_lit = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a_lit)
            & (x == b_lit),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(a_lit, b_lit)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    word_freqs: DataFrame | None = None,
    return_final_vocab: bool = False,
):
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    list [(left_symbol, right_symbol, weighted_count), …] in learned
    order — or ``(merges, final_vocab)`` when ``return_final_vocab``
    is set, where ``final_vocab`` is the (wt, syms) frame after all
    merges (for compression audits / segmenter export, without
    replaying the folds).

    The driver loop is over VOCAB-BOUNDED frames only (the production
    BPE trainer shape — Sennrich et al. 2016 §3.2): each iteration is
    one pair-count aggregate over distinct words (weighted by the word
    frequencies computed once from the corpus — pass ``word_freqs`` to
    skip even that pass) and a 1-row argmax collect; the corpus itself
    is never re-read. Words reduced to ONE symbol can never merge
    again, so they leave the iterated frame permanently (the fold and
    checkpoint shrink monotonically) and rejoin only in the returned
    final vocab. The evolving symbol column is localCheckpointed per
    iteration so lineage doesn't accumulate one fold per merge (the
    pointer-jumping/PageRank iterative discipline). Ties break
    (count DESC, pair ASC) — deterministic across runs and engines.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0: {n_merges}")
    freqs = (
        word_freqs if word_freqs is not None else word_frequencies(df, text_col)
    )
    syms0 = (
        freqs.where(F.length("tok") >= 1)
        .select("wt", _initial_symbols(F.col("tok")).alias("syms"))
        .localCheckpoint()
    )
    # a word at ONE symbol has no pairs — forever (sequence(1, 0) also
    # counts DOWN, the r4 word_shingles lesson; under ANSI the
    # out-of-range syms[i] would even error): park such rows outside
    # the loop and iterate only the mergeable remainder
    active = syms0.where(F.size("syms") >= 2)
    finished: list[DataFrame] = [syms0.where(F.size("syms") < 2)]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            active.select(
                "wt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wt").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0].a, top[0].b, top[0].n
        merges.append((a, b, int(n)))
        merged = active.select(
            "wt", _merge_pair(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint()
        finished.append(merged.where(F.size("syms") < 2))
        active = merged.where(F.size("syms") >= 2)
    if not return_final_vocab:
        return merges
    final = active
    for part in finished:
        final = final.unionByName(part)
    return merges, final


def _initial_symbols_col(tok: Column) -> Column:
    """Character symbols of a token COLUMN (composable inside
    higher-order lambdas, unlike the name-bound ``_initial_symbols``
    expr). Guarded for the empty token (sequence(1, 0) counts DOWN —
    the r4 lesson)."""
    return F.when(
        F.length(tok) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(tok)),
            lambda i: F.substring(tok, i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_vocab(
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
) -> frozenset[str]:
    """The multi-character symbol inventory a merge table can produce:
    each rule's concatenated product. Single characters are implicit
    (they are the longest-match fallback, never looked up)."""
    return frozenset(m[0] + m[1] for m in merges)


def bpe_segment_vocab(
    df: DataFrame,
    vocab: frozenset[str] | set[str],
    text_col: str = "text",
    out_col: str = "sym_tokens",
) -> DataFrame:
    """Production-form BPE segmentation: greedy LONGEST-MATCH of each
    whitespace token against the trained symbol inventory (broadcast to
    every executor) — the inference shape production tokenizers deploy
    when the merge table is tens of thousands of rules deep. Adds
    ``out_col`` = the flattened per-document symbol sequence (NULL text
    → NULL), the same output contract as ``bpe_segment``.

    At each position the longest vocab prefix wins (ties impossible —
    lengths differ); a position matching no multi-char symbol emits its
    single character and advances one (unknown characters pass through
    as themselves rather than an <unk> sentinel — lossless by
    construction: concatenating the output symbols always reproduces
    the token exactly, a pinned law).

    Scale shape: the vocab ships ONCE per executor via a Spark
    broadcast (not per-task closure capture); segmentation is a
    map-side Arrow-batched pandas UDF — O(max_symbol_len) hash probes
    per character, no shuffle, no driver involvement. This is the
    deliberate Python surface of the tokenizer tier (frozenset probes
    beat any literal-array ``array_contains`` plan once the vocab
    passes a few hundred symbols); the expression-only replay in
    ``bpe_segment`` remains the zero-Python path for small tables.

    BROADCAST LIFETIME: each call creates one SparkContext broadcast
    of the vocab that lives until the session ends (Spark has no safe
    point to destroy it while the returned lazy DataFrame can still be
    re-evaluated). Long-lived drivers segmenting in a loop should
    build ONE segmented frame per vocabulary and reuse it rather than
    re-calling this per batch; `spark.cleaner.periodicGC.interval`
    reclaims broadcasts whose Python handle has been garbage-collected.

    Tokenization matches ``ws_tokens`` EXACTLY, including on non-ASCII
    whitespace: the UDF splits with Java's ``\\s`` class
    (``_py_ws_tokens``), not Python ``str.split()``, which would also
    split on NBSP/U+2000-U+200A/U+2028 and silently diverge from every
    expression-path consumer (pinned in tests with NBSP text).

    SEMANTICS — longest-match is NOT merge replay: on merge tables
    whose later rules create material for earlier ones the two differ
    (see ``bpe_segment``'s docstring), and longest-match can also pick
    a longer symbol where replay's merge order would have split it.
    On trainer-produced tables over their own corpus the two agree
    (pinned in tests against ``bpe_learn``'s final vocab).
    """
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    multi = frozenset(v for v in vocab if len(v) >= 2)
    max_len = max((len(v) for v in multi), default=1)
    bc = df.sparkSession.sparkContext.broadcast((multi, max_len))

    @F.pandas_udf("array<string>")
    def _segment(texts: pd.Series) -> pd.Series:
        voc, mx = bc.value
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            syms: list[str] = []
            for tok in _py_ws_tokens(t):
                i, n = 0, len(tok)
                while i < n:
                    j = min(n, i + mx)
                    while j - i >= 2 and tok[i:j] not in voc:
                        j -= 1
                    if j - i < 2:
                        j = i + 1
                    syms.append(tok[i:j])
                    i = j
            out.append(syms)
        return pd.Series(out)

    return df.withColumn(out_col, _segment(F.col(text_col)))


#: Above this merge-table depth ``bpe_segment`` switches from inline
#: expression replay to the broadcast longest-match segmenter: the
#: replay's expression tree is linear in n_merges and stops being a
#: sane plan long before production vocab sizes.
_REPLAY_LIMIT = 64


def _bpe_segment_min_rank(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Canonical min-rank BPE inference, Sennrich ``apply_bpe``
    semantics: per token, repeatedly find the LOWEST-RANK merge rule
    whose pair is currently adjacent and apply it to EVERY occurrence
    (left-to-right, non-overlapping — one sweep per chosen rule),
    re-scanning for the new lowest rank after each sweep until no rule
    applies. Unlike the single-pass replay this revisits earlier rules
    when a later rule's product creates their input.

    PRECISION on "canonical": subword-nmt's apply_bpe sweeps ALL
    occurrences of the chosen pair before re-scanning (this
    implementation); HF tokenizers' priority queue merges ONE
    occurrence at a time, re-evaluating ranks between single merges.
    The two agree on trainer-consistent tables and on any table where
    a sweep cannot create a lower-rank pair mid-token; they diverge on
    adversarial tables where merging one occurrence creates material
    for a LOWER-rank rule that the rest of the sweep then misses:
    [(aa,a) rank 0, (a,a) rank 3] on "aaaa" — sweep merges both (a,a)
    -> [aa, aa] (done); HF's queue merges one (a,a), sees the new
    rank-0 (aa,a) -> [aaa, a]. Both behaviors are pinned in tests; use
    the sweep as the Sennrich-reference semantic, not as a promise of
    byte agreement with HF's queue on adversarial tables.

    Same scale shape as ``bpe_segment_vocab``: the rank table ships
    once per executor via broadcast; the scan is a map-side
    Arrow-batched pandas UDF (no shuffle); tokenization is the exact
    ``ws_tokens`` twin. Same broadcast-lifetime note applies.
    """
    # First occurrence wins on duplicate pairs, matching subword-nmt's
    # reversed-enumerate table build (earlier entries overwrite later
    # ones there; a plain dict comprehension would keep the LAST —
    # i.e. highest — rank instead). bpe_learn never emits duplicates,
    # so this only matters for hand-built tables.
    ranks: dict[tuple[str, str], int] = {}
    for r, m in enumerate(merges):
        ranks.setdefault((m[0], m[1]), r)
    bc = df.sparkSession.sparkContext.broadcast(ranks)

    @F.pandas_udf("array<string>")
    def _segment(texts: pd.Series) -> pd.Series:
        rk = bc.value
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            syms: list[str] = []
            for tok in _py_ws_tokens(t):
                cur = list(tok)
                while len(cur) >= 2:
                    best = None
                    best_rank = None
                    for i in range(len(cur) - 1):
                        r = rk.get((cur[i], cur[i + 1]))
                        if r is not None and (best_rank is None or r < best_rank):
                            best, best_rank = (cur[i], cur[i + 1]), r
                    if best is None:
                        break
                    a, b = best
                    nxt: list[str] = []
                    i = 0
                    while i < len(cur):
                        if (
                            i < len(cur) - 1
                            and cur[i] == a
                            and cur[i + 1] == b
                        ):
                            nxt.append(a + b)
                            i += 2
                        else:
                            nxt.append(cur[i])
                            i += 1
                    cur = nxt
                syms.extend(cur)
            out.append(syms)
        return pd.Series(out)

    return df.withColumn(out_col, _segment(F.col(text_col)))


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "sym_tokens",
    mode: str = "replay",
) -> DataFrame:
    """Tokenize ``text_col`` into BPE subword symbols from the learned
    ``merges`` — the inference side of ``bpe_learn`` (segmenting text
    the trainer never saw). Adds ``out_col`` = the per-document symbol
    sequence (tokens flattened in order; NULL text → NULL).

    SEMANTICS — two modes, both pinned in tests:

    * ``mode="replay"`` (default): the small-table path replays each
      merge rule exactly once, in rank order — a SINGLE-PASS
      RANK-ORDER REPLAY, not canonical min-rank BPE inference. The two
      diverge on merge tables where a LATER rule's product feeds an
      EARLIER rule: e.g. rules [1: (x, yz), 2: (y, z)] on "xyz" —
      canonical applies rule 2 then revisits rule 1 → [xyz]; the
      replay has already passed rule 1 → [x, yz]. Tables produced by
      ``bpe_learn`` on their own corpus never have that shape (a
      rule's inputs exist before it is learned), which is why the
      trainer-equivalence law holds.
    * ``mode="min_rank"``: canonical Sennrich ``apply_bpe`` semantics —
      after every all-occurrence sweep of the chosen rule, re-scan for
      the lowest-rank applicable pair (``_bpe_segment_min_rank``;
      broadcast rank table + Arrow-batched map-side UDF, no shuffle).
      Use this for agreement with subword-nmt; note HF tokenizers'
      one-merge-at-a-time queue can differ on adversarial tables
      (see ``_bpe_segment_min_rank``'s docstring — both pinned).

    The replay is ONE map-side projection — no shuffle, no Python:
    n_merges nested folds inside a per-token ``transform``. The
    expression tree is linear in n_merges, fine for few-dozen-merge
    tables; past ``_REPLAY_LIMIT`` rules replay mode delegates to the
    production path, ``bpe_segment_vocab`` (broadcast greedy
    longest-match over the merge-product inventory) — a documented
    SEMANTIC switch, not just a plan switch (see above; the two agree
    on trainer-consistent tables). ``min_rank`` never switches — its
    UDF cost is already independent of the table depth.
    """
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    if mode not in ("replay", "min_rank"):
        raise ValueError(f"unknown mode {mode!r}: use 'replay' or 'min_rank'")
    if mode == "min_rank":
        return _bpe_segment_min_rank(df, merges, text_col, out_col)
    if len(merges) > _REPLAY_LIMIT:
        return bpe_segment_vocab(
            df, bpe_vocab(merges), text_col=text_col, out_col=out_col
        )

    def _apply_all(tok: Column) -> Column:
        syms = _initial_symbols_col(tok)
        for m in merges:
            a, b = m[0], m[1]
            syms = _merge_pair(syms, a, b)
        return syms

    text = F.col(text_col)
    return df.withColumn(
        out_col,
        F.when(
            text.isNotNull(),
            F.flatten(F.transform(ws_tokens(text), _apply_all)),
        ),
    )
