"""DuckDB oracle SQL for the LLM-data showcase queries (plans/llm.py).

Every oracle mirrors its Spark twin *exactly*, step for step: same
tokenization, same md5-derived hashes, same fold order for floating
point. The only portable primitives used are md5 / ascii / bit ops /
left-fold list reduction, all of which Spark and DuckDB implement
identically — this is what makes MinHash / SimHash / cosine oracle-
checkable instead of rows-only.

Shared constants must stay in lockstep with plans/llm.py
(PLANT_EVERY_DOCS etc.) and operators/dedup.py (num_perm/bands).
"""

from __future__ import annotations

from ..operators.textstats import BPE_TOKEN_RE, LANG_LEXICONS

# tokenizer: identical to textstats.ws_tokens (split trimmed text on \s+)


def toks_expr(inner: str = "trim(text)") -> str:
    """Whitespace tokenizer over an arbitrary inner expression — the one
    place the oracle-side tokenizer is defined, so variants (e.g. the
    lowercased tfidf tokenizer) parameterize it instead of string-replacing
    TOKS, which would silently no-op if the expression were ever reworded."""
    return rf"regexp_split_to_array({inner}, '\s+')"


TOKS = toks_expr()

# planted corpus: originals ∪ every-25th doc with first 2 words dropped,
# ids offset by 10,000,000 — mirrors dedup.plant_near_dups
PLANTED = rf"""
corpus AS (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id,
           array_to_string(list_slice({TOKS}, 3, len({TOKS})), ' ') AS text,
           source
    FROM documents
    WHERE doc_id % 25 = 0 AND len({TOKS}) > 2
)
"""

# distinct word-3-gram shingles per doc (≥3 tokens), mirrors word_shingles
SHINGLES = rf"""
tokd AS (SELECT doc_id, source, {TOKS} AS w FROM corpus),
sh AS (
    SELECT doc_id, source,
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
    FROM tokd WHERE len(w) >= 3
),
shn AS (SELECT doc_id, source, sh, len(sh) AS n_sh FROM sh)
"""


def exact_dedup_docs() -> str:
    return """
        WITH corpus AS (
            SELECT doc_id, text, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 10000000, text, n_chars FROM documents
            WHERE doc_id % 25 = 0
        )
        SELECT doc_id, n_chars FROM (
            SELECT doc_id, n_chars,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM corpus
        ) WHERE doc_id = keep_id
        ORDER BY doc_id
    """


def _minhash_pair_ctes(
    num_perm: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    split_at: int | None = None,
) -> str:
    """Shared CTE chain ending in ``pairs`` = the MinHash-LSH verified
    near-dup pairs (used by the pairs oracle and the clustering oracle).
    With ``split_at``, candidates pair an existing-corpus doc
    (id < split_at) with a new-batch doc (id >= split_at) instead of the
    within-corpus self-join — the incremental-dedup oracle twin."""
    rows = num_perm // bands
    if split_at is None:
        cand_on = "a.doc_id < b.doc_id"
    else:
        cand_on = f"a.doc_id < {split_at} AND b.doc_id >= {split_at}"
    return rf"""{PLANTED}, {SHINGLES},
        hp AS (
            SELECT doc_id,
                   list_transform(sh, s -> struct_pack(
                       h1 := CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
                       h2 := CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT))) AS hp
            FROM shn
        ),
        sig AS (
            SELECT doc_id,
                   list_transform(range(0, {num_perm}),
                       i -> list_aggregate(
                                list_transform(hp, p -> (p.h1 + i * p.h2) % 4294967296),
                                'min')) AS sig
            FROM hp
        ),
        banded AS (
            SELECT doc_id, j,
                   md5(array_to_string(
                       list_transform(
                           list_slice(sig, j * {rows} + 1, j * {rows} + {rows}),
                           x -> CAST(x AS VARCHAR)), '')) AS band_key
            FROM sig, range(0, {bands}) t(j)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.j = b.j AND a.band_key = b.band_key
                         AND {cand_on}
        ),
        ver AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.sh, sb.sh)) AS c,
                   sa.n_sh AS n_a, sb.n_sh AS n_b
            FROM cand
            JOIN shn sa ON sa.doc_id = doc_a
            JOIN shn sb ON sb.doc_id = doc_b
        ),
        pairs AS (
            SELECT doc_a, doc_b, ROUND(c / (n_a + n_b - c), 4) AS jaccard
            FROM ver
            WHERE ROUND(c / (n_a + n_b - c), 4) >= {threshold}
        )"""


def minhash_lsh_dupes(num_perm: int = 12, bands: int = 3, threshold: float = 0.5) -> str:
    return rf"""
        WITH {_minhash_pair_ctes(num_perm, bands, threshold)}
        SELECT doc_a, doc_b, jaccard FROM pairs
        ORDER BY doc_a, doc_b
    """


def incremental_near_dups(
    split_at: int, num_perm: int = 12, bands: int = 3, threshold: float = 0.5
) -> str:
    """Twin of dedup.minhash_lsh_pairs_between over the planted corpus
    split at ``split_at`` (originals = existing corpus, planted mutants
    = the new batch)."""
    return rf"""
        WITH {_minhash_pair_ctes(num_perm, bands, threshold, split_at=split_at)}
        SELECT doc_a AS corpus_id, doc_b AS new_id, jaccard FROM pairs
        ORDER BY corpus_id, new_id
    """


def dedup_survivors(num_perm: int = 12, bands: int = 3, threshold: float = 0.5) -> str:
    """Twin of dedup.dedup_keep_canonical ∘ dedup_clusters: the corpus
    minus every clustered doc that is not its cluster's min id."""
    return rf"""
        WITH RECURSIVE {_minhash_pair_ctes(num_perm, bands, threshold)},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id
        ),
        clusters AS (
            SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
        )
        SELECT c.doc_id, c.source
        FROM corpus c
        WHERE c.doc_id NOT IN (
            SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
        )
        ORDER BY c.doc_id
    """


def dedup_clusters(num_perm: int = 12, bands: int = 3, threshold: float = 0.5) -> str:
    """Connected components over the near-dup pair graph: cluster_id =
    min doc id reachable (recursive transitive closure; the Spark side
    computes the same fixpoint by iterative min-label propagation)."""
    return rf"""
        WITH RECURSIVE {_minhash_pair_ctes(num_perm, bands, threshold)},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id
        )
        SELECT id AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id
    """


def ngram_jaccard_pairs(threshold: float = 0.5) -> str:
    return rf"""
        WITH {PLANTED}, {SHINGLES},
        -- 64-bit md5-prefix join key mirrors the Spark side (shuffle
        -- payload optimization); collisions hit both engines identically
        ex AS (SELECT doc_id, source, n_sh,
                      substr(md5(unnest(sh)), 1, 16) AS s FROM shn),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS c
            FROM ex a
            JOIN ex b ON a.s = b.s AND a.source = b.source
                     AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b, ROUND(c / (n_a + n_b - c), 4) AS jaccard
        FROM common
        WHERE ROUND(c / (n_a + n_b - c), 4) >= {threshold}
        ORDER BY doc_a, doc_b
    """


def _simhash_cte(source_table_sql: str, bits: int = 64) -> str:
    """CTEs computing (doc_id, source, sh) ``bits``-bit simhash per doc,
    mirroring operators/dedup.py:simhash_table bit-for-bit: bits 0-31 vote
    from the first 8 md5 hex chars (h1), bits 32-63 from the next 8 (h2);
    bit 63 contributes -(2^63) so the fingerprint is the two's-complement
    BIGINT — identical to Spark's signed long."""

    def _bit(i: int) -> str:
        return f"(h1 >> {i})" if i < 32 else f"(h2 >> {i - 32})"

    def _weight(i: int) -> str:
        # -(2^63) written as an expression: the bare literal would parse
        # as HUGEINT in DuckDB and promote the whole sum
        return "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)

    votes = ",\n                   ".join(
        f"SUM(CASE WHEN {_bit(i)} & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    recombine = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({_weight(i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    h2 = (
        ",\n                      CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS h2"
        if bits > 32
        else ""
    )
    return rf"""
        tok AS (SELECT doc_id, source, unnest({TOKS}) AS t FROM {source_table_sql}),
        ht AS (SELECT doc_id, source,
                      CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h1{h2}
               FROM tok),
        votes AS (
            SELECT doc_id, source,
                   {votes}
            FROM ht GROUP BY doc_id, source
        ),
        shash AS (SELECT doc_id, source, {recombine} AS sh FROM votes)
    """


def simhash_pairs(max_hamming: int = 6) -> str:
    return rf"""
        WITH {PLANTED}, {_simhash_cte("corpus")}
        -- all-pairs ground truth: the Spark side generates candidates via
        -- pigeonhole bit-bands (exact recall), so results must be equal
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sh, b.sh)) AS hamming
        FROM shash a
        JOIN shash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        ORDER BY doc_a, doc_b
    """


def simhash_values() -> str:
    return rf"""
        WITH corpus AS (SELECT doc_id, text, source FROM documents),
        {_simhash_cte("corpus")}
        SELECT doc_id, sh FROM shash ORDER BY doc_id
    """


def token_stats() -> str:
    return rf"""
        SELECT doc_id,
               length(text) AS n_chars,
               len({TOKS}) AS n_tokens_ws,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_tokens_bpe,
               ROUND(list_aggregate(list_transform({TOKS}, t -> length(t)), 'sum')
                     / len({TOKS}), 4) AS avg_token_len
        FROM documents ORDER BY doc_id
    """


def _lex_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return (
        f"len(list_filter({TOKS}, t -> list_contains([{words}], lower(t))))"
        f" AS score_{lang}"
    )


def language_id() -> str:
    langs = list(LANG_LEXICONS)
    scores = ",\n               ".join(_lex_sql(l) for l in langs)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    cases = "\n                    ".join(
        f"WHEN score_{l} = {best} AND {best} > 0 THEN '{l}'" for l in langs
    )
    return rf"""
        WITH scored AS (
            SELECT doc_id,
               {scores}
            FROM documents
        )
        SELECT doc_id, {", ".join(f"score_{l}" for l in langs)},
               CASE {cases}
                    ELSE 'und' END AS predicted_lang
        FROM scored ORDER BY doc_id
    """


def quality_score() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    return rf"""
        WITH feat AS (
            SELECT doc_id,
                   len({TOKS}) AS n_tokens,
                   list_aggregate(list_transform({TOKS}, t -> length(t)), 'sum')
                       / len({TOKS}) AS mean_tok,
                   len(list_filter({TOKS}, t -> list_contains([{en}], lower(t))))
                       / len({TOKS}) AS stop_ratio,
                   len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n]'))
                       / length(text) AS punct_ratio
            FROM documents
        )
        SELECT doc_id, n_tokens,
               ROUND(mean_tok, 4) AS mean_token_len,
               ROUND(stop_ratio, 4) AS stopword_ratio,
               ROUND(punct_ratio, 4) AS punct_ratio,
               (CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.25 ELSE 0 END
                + CASE WHEN mean_tok >= 2.0 AND mean_tok <= 12.0 THEN 0.25 ELSE 0 END
                + CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0 END
                + CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0 END) AS quality_score
        FROM feat ORDER BY doc_id
    """


def doc_fingerprints() -> str:
    return r"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length(text) + 1),
                                      i -> ascii(substr(text, i, 1)))),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        FROM documents ORDER BY doc_id
    """


def token_entropy() -> str:
    # mirrors textstats.token_entropy: H = log2(n) - (Σ c·log2 c)/n over
    # the whitespace-token distribution; CAST(... AS BIGINT) because
    # DuckDB SUM(BIGINT) yields HUGEINT (the events_props_stats lesson).
    # Each c·log2(c) addend is quantized to micro-unit BIGINTs before
    # the sum, exactly as the operator does (the bm25 fold-order
    # discipline: integer addition is associative, double addition is
    # not); the 1000000.0 literals are CAST AS DOUBLE because their
    # first arithmetic partner is otherwise non-DOUBLE (the
    # decimal-literal hazard recorded in round 6).
    return r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS t
            FROM documents
        ), per_tok AS (
            SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ), per_doc AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE)
                                       * log2(CAST(c AS DOUBLE))
                                       * CAST(1000000.0 AS DOUBLE), 0)
                                 AS BIGINT)) AS BIGINT) AS sum_clog_micro
            FROM per_tok GROUP BY doc_id
        )
        SELECT doc_id, n AS n_tokens,
               ROUND(log2(CAST(n AS DOUBLE))
                     - (CAST(sum_clog_micro AS DOUBLE)
                        / CAST(1000000.0 AS DOUBLE))
                       / CAST(n AS DOUBLE), 6) AS token_entropy_bits
        FROM per_doc ORDER BY doc_id
    """


def chunked_docs(chunk_tokens: int = 64, overlap: int = 8) -> str:
    # mirrors textstats.chunk_documents: stride = chunk - overlap; chunk
    # count by exact integer arithmetic; DuckDB's parallel unnest of two
    # equal-length lists replaces Spark's posexplode
    stride = chunk_tokens - overlap
    return rf"""
        WITH t AS (
            SELECT doc_id, {TOKS} AS toks FROM documents
        ), c AS (
            SELECT doc_id, toks,
                   (greatest(len(toks) - {chunk_tokens}, 0) + {stride - 1})
                       // {stride} + 1 AS n_chunks
            FROM t
        )
        SELECT doc_id,
               CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id,
               CAST(unnest(list_transform(range(0, n_chunks),
                    i -> len(list_slice(toks, i * {stride} + 1,
                                        i * {stride} + {chunk_tokens}))))
                    AS INT) AS n_tokens,
               unnest(list_transform(range(0, n_chunks),
                    i -> array_to_string(list_slice(toks, i * {stride} + 1,
                                                    i * {stride} + {chunk_tokens}),
                                         ' '))) AS chunk_text
        FROM c ORDER BY doc_id, chunk_id
    """


def contaminated_docs(n: int = 8, every: int = 100, min_common: int = 1) -> str:
    # mirrors dedup.contamination_pairs over the planted corpus vs the
    # every-100th original documents as the "benchmark" set; identity
    # pairs excluded in both engines. n-gram slice bounds are inclusive
    # in DuckDB's list_slice (i .. i+n-1 = n tokens).
    def sh(toks: str) -> str:
        return (
            f"list_distinct(list_transform("
            f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
        )

    return rf"""
        WITH {PLANTED},
        csh AS (
            SELECT doc_id, {sh(TOKS)} AS sh FROM corpus
            WHERE len({TOKS}) >= {n}
        ),
        cex AS (
            SELECT doc_id,
                   unnest(list_transform(sh, s -> substring(md5(s), 1, 16))) AS g
            FROM csh
        ),
        bsh AS (
            SELECT doc_id AS bench_id, {sh(TOKS)} AS sh FROM documents
            WHERE doc_id % {every} = 0 AND len({TOKS}) >= {n}
        ),
        bex AS (
            SELECT bench_id, len(sh) AS bench_n,
                   unnest(list_transform(sh, s -> substring(md5(s), 1, 16))) AS g
            FROM bsh
        ),
        hits AS (
            SELECT doc_id, bench_id, bench_n, COUNT(*) AS n_common
            FROM cex JOIN bex USING (g)
            GROUP BY 1, 2, 3
        )
        SELECT doc_id, bench_id, CAST(n_common AS BIGINT) AS n_common,
               ROUND(CAST(n_common AS DOUBLE) / bench_n, 6)
                   AS contamination_frac
        FROM hits
        WHERE n_common >= {min_common} AND doc_id <> bench_id
        ORDER BY doc_id, bench_id
    """


def tfidf_top_terms(k: int = 3) -> str:
    # mirrors textstats.tfidf_top_terms: smoothed idf ln((N+1)/(df+1))+1
    # over lowercase whitespace tokens; same double expression order so
    # scores (and therefore ranks) match bit-for-bit
    toks_lower = toks_expr("trim(lower(text))")
    return rf"""
        WITH tok AS (
            SELECT doc_id,
                   unnest({toks_lower}) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0)
                       AS score
            FROM tf JOIN dfreq USING (term), n
        )
        SELECT doc_id,
               CAST(rnk AS INT) AS rank, term,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               ROUND(score, 6) AS tfidf
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rnk
            FROM scored
        )
        WHERE rnk <= {k}
        ORDER BY doc_id, rank
    """


def repetition_ratio() -> str:
    # mirrors textstats.repetition_ratio: overlapping word n-grams as
    # space-joined strings, dup fraction = 1 - distinct/total (0 for
    # docs shorter than n). DuckDB range(a, b) excludes b where Spark
    # sequence(a, b) includes it — hence the +1.
    return rf"""
        WITH t AS (
            SELECT doc_id, {TOKS} AS toks FROM documents
        ), g AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bi,
                   list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS tri
            FROM t
        )
        SELECT doc_id, n_tokens,
               ROUND(CASE WHEN len(bi) > 0
                          THEN 1.0 - len(list_distinct(bi)) / len(bi)
                          ELSE 0.0 END, 6) AS dup_bigram_frac,
               ROUND(CASE WHEN len(tri) > 0
                          THEN 1.0 - len(list_distinct(tri)) / len(tri)
                          ELSE 0.0 END, 6) AS dup_trigram_frac
        FROM g ORDER BY doc_id
    """


def corpus_filter() -> str:
    # mirrors textstats.corpus_filter with its default thresholds
    return rf"""
        WITH t AS (
            SELECT doc_id, {TOKS} AS toks FROM documents
        ), feat AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                       / len(toks) AS mean_tok,
                   len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                       / len(toks) AS alpha_frac,
                   list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS tri
            FROM t
        ), scored AS (
            SELECT doc_id, n_tokens, mean_tok, alpha_frac,
                   CASE WHEN len(tri) > 0
                        THEN 1.0 - len(list_distinct(tri)) / len(tri)
                        ELSE 0.0 END AS dup_tri
            FROM feat
        )
        SELECT doc_id, n_tokens,
               ROUND(mean_tok, 4) AS mean_token_len,
               ROUND(alpha_frac, 4) AS alpha_token_frac,
               ROUND(dup_tri, 6) AS dup_trigram_frac,
               COALESCE(n_tokens BETWEEN 10 AND 100000
                        AND mean_tok >= 2.0 AND mean_tok <= 12.0
                        AND alpha_frac >= 0.6 AND dup_tri <= 0.3,
                        FALSE) AS keep
        FROM scored ORDER BY doc_id
    """


def benford_profile(value_col: str = "l_extendedprice", table: str = "lineitem") -> str:
    # mirrors textstats.benford_profile: first significant digit via
    # v / 10^floor(log10 v) — pure arithmetic, no string formatting
    return rf"""
        WITH c AS (
            SELECT CAST(floor(v / pow(10, floor(log10(v)))) AS INT) AS digit,
                   COUNT(*) AS n
            FROM (SELECT CAST({value_col} AS DOUBLE) AS v FROM {table})
            WHERE v > 0
            GROUP BY 1
        ), t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
        SELECT digit, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
               ROUND(log10(1 + 1.0 / digit), 6) AS benford_freq,
               ROUND(abs(CAST(n AS DOUBLE) / total
                         - log10(1 + 1.0 / digit)), 6) AS abs_dev
        FROM c, t ORDER BY digit
    """


# ---------------------------------------------------------------------------
# embeddings — double-precision left-fold arithmetic, identical to Spark's
# zip_with + aggregate evaluation order
# ---------------------------------------------------------------------------


def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _cosine(a: str, b: str) -> str:
    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


def cosine_topk(k: int = 5, every: int = 100) -> str:
    return rf"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id % {every} = 0),
        c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
        sims AS (
            SELECT query_id, match_id, {_cosine("qv", "cv")} AS sim
            FROM c JOIN q ON query_id <> match_id
        )
        SELECT query_id, match_id, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT) AS rank
        FROM sims
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def _bucket_expr(n_bits: int = 8, offset: int = 0, col: str = "embedding") -> str:
    """Axis-sign LSH bucket of vector column ``col`` over dimension block
    [offset, offset+n_bits) — mirrors similarity.sign_lsh_bucket bit for
    bit."""
    return " + ".join(
        f"CASE WHEN {col}[{offset + i + 1}] > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for i in range(n_bits)
    )


_BUCKET = _bucket_expr()


def ann_sign_lsh(k: int = 5, every: int = 100) -> str:
    return rf"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_BUCKET} AS bucket
                   FROM embeddings WHERE vec_id % {every} = 0),
        c AS (SELECT vec_id AS match_id, embedding AS cv, {_BUCKET} AS bucket
              FROM embeddings),
        sims AS (
            SELECT query_id, match_id, bucket,
                   {_cosine("qv", "cv")} AS sim
            FROM c JOIN q USING (bucket)
            WHERE query_id <> match_id
        )
        SELECT query_id, match_id, bucket, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT) AS rank
        FROM sims
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def ann_multiprobe(k: int = 5, every: int = 100, n_bits: int = 8) -> str:
    return rf"""
        WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv, {_BUCKET} AS bucket
                    FROM embeddings WHERE vec_id % {every} = 0),
        q AS (
            SELECT query_id, qv,
                   CASE WHEN i = -1 THEN bucket
                        ELSE xor(bucket, CAST(1 AS BIGINT) << i) END AS bucket
            FROM q0, range(-1, {n_bits}) t(i)
        ),
        c AS (SELECT vec_id AS match_id, embedding AS cv, {_BUCKET} AS bucket
              FROM embeddings),
        sims AS (
            SELECT query_id, match_id, {_cosine("qv", "cv")} AS sim
            FROM c JOIN q USING (bucket)
            WHERE query_id <> match_id
        )
        SELECT query_id, match_id, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT) AS rank
        FROM sims
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def ann_multitable(
    k: int = 5, every: int = 100, n_bits: int = 4, n_tables: int = 8
) -> str:
    # mirrors similarity.ann_topk_sign_lsh_multitable: n_tables independent
    # sign-LSH tables over disjoint dimension blocks, candidates = union of
    # same-bucket matches across tables, pair-deduped before exact ranking
    tables_q = "\n            UNION ALL ".join(
        f"SELECT vec_id AS query_id, embedding AS qv, {t} AS tbl, "
        f"{_bucket_expr(n_bits, t * n_bits)} AS bucket "
        f"FROM embeddings WHERE vec_id % {every} = 0"
        for t in range(n_tables)
    )
    tables_c = "\n            UNION ALL ".join(
        f"SELECT vec_id AS match_id, embedding AS cv, {t} AS tbl, "
        f"{_bucket_expr(n_bits, t * n_bits)} AS bucket FROM embeddings"
        for t in range(n_tables)
    )
    return rf"""
        WITH q AS ({tables_q}),
        c AS ({tables_c}),
        cand AS (
            SELECT DISTINCT query_id, match_id, qv, cv
            FROM c JOIN q USING (tbl, bucket)
            WHERE query_id <> match_id
        ),
        sims AS (
            SELECT query_id, match_id, {_cosine("qv", "cv")} AS sim FROM cand
        )
        SELECT query_id, match_id, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT) AS rank
        FROM sims
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def ann_ivf(k: int = 5, every: int = 100, n_cells: int = 16, n_probe: int = 2) -> str:
    return rf"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cv
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}
        ),
        csims AS (
            SELECT vec_id, embedding, cid,
                   {_cosine("embedding", "cv")} AS csim
            FROM embeddings, cents
        ),
        corpus_cells AS (
            SELECT match_id, cell, cv2 FROM (
                SELECT vec_id AS match_id, cid AS cell, embedding AS cv2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, cid DESC) AS rn
                FROM csims
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id % {every} = 0),
        qsims AS (
            SELECT query_id, qv, cid AS cell, {_cosine("qv", "cv")} AS csim
            FROM q, cents
        ),
        query_cells AS (
            SELECT query_id, qv, cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY csim DESC, cell DESC) AS crank
                FROM qsims
            ) WHERE crank <= {n_probe}
        ),
        sims AS (
            SELECT DISTINCT query_id, match_id, {_cosine("qv", "cv2")} AS sim
            FROM corpus_cells JOIN query_cells USING (cell)
            WHERE query_id <> match_id
        )
        SELECT query_id, match_id, ROUND(sim, 6) AS cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, match_id) AS INT) AS rank
        FROM sims
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def embedding_near_dup(threshold: float = 0.99, every: int = 100) -> str:
    return rf"""
        WITH planted AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000000, embedding FROM embeddings
            WHERE vec_id % {every} = 0
        ),
        v AS (SELECT vec_id, embedding AS v, {_BUCKET} AS bucket FROM planted),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_cosine("a.v", "b.v")} AS sim
            FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, ROUND(sim, 6) AS cosine_sim
        FROM pairs WHERE ROUND(sim, 6) >= {threshold}
        ORDER BY vec_a, vec_b
    """


def cleaned_docs() -> str:
    # same regex chain/order as operators/textclean.py (Java∩RE2 dialect)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^\s]+"
    phone = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
    control = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    return rf"""
        WITH cleaned AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(text, '{control}', '', 'g'),
                                   '{email}', '<EMAIL>', 'g'),
                               '{url}', '<URL>', 'g'),
                           '{phone}', '<PHONE>', 'g'),
                       '\s+', ' ', 'g')) AS t
            FROM documents
        )
        SELECT doc_id, t AS text_clean, length(t) AS n_chars_clean
        FROM cleaned ORDER BY doc_id
    """


_BUCKET10K = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"
)


def train_split_counts(val_rate: float = 0.1, test_rate: float = 0.1) -> str:
    test_hi = int(test_rate * 10_000)
    val_hi = test_hi + int(val_rate * 10_000)
    return rf"""
        WITH split AS (
            SELECT lang,
                   CASE WHEN {_BUCKET10K} < {test_hi} THEN 'test'
                        WHEN {_BUCKET10K} < {val_hi} THEN 'val'
                        ELSE 'train' END AS split
            FROM documents
        )
        SELECT split, lang, COUNT(*) AS n_docs
        FROM split GROUP BY split, lang
        ORDER BY split, lang
    """


def stratified_sample_docs() -> str:
    return rf"""
        SELECT doc_id, lang FROM documents
        WHERE {_BUCKET10K} < CASE lang WHEN 'en' THEN 2500
                                       WHEN 'es' THEN 10000
                                       WHEN 'fr' THEN 10000
                                       WHEN 'de' THEN 10000
                                       ELSE 5000 END
        ORDER BY doc_id
    """


def multimodal_features() -> str:
    return """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS payload_sha256,
               n_chars % 640 + 16 AS width,
               (n_chars * 7) % 480 + 16 AS height
        FROM documents ORDER BY doc_id
    """


#: Bigram-LM per-document perplexity oracle (operators/lm.py twin),
#: shared by plans/training.py and plans/ccnetq.py's scored-docs CTE.
LM_PERPLEXITY_ORACLE = rf"""
        WITH t AS (SELECT doc_id, {TOKS} AS w FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_slice(w, 1, len(w) - 1)) AS w1,
                   unnest(list_slice(w, 2, len(w))) AS w2
            FROM t WHERE len(w) >= 2
        ),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
        v AS (
            SELECT COUNT(DISTINCT tk) AS v FROM (
                SELECT w1 AS tk FROM c12 UNION ALL SELECT w2 FROM c12
            )
        ),
        scored AS (
            SELECT bg.doc_id,
                   log2((COALESCE(c12.c12, 0) + 0.5)
                        / (CAST(COALESCE(c1.c1, 0) AS DOUBLE)
                           + 0.5 * CAST(v.v AS DOUBLE))) AS lp
            FROM bg
            LEFT JOIN c12 USING (w1, w2)
            LEFT JOIN c1 USING (w1)
            CROSS JOIN v
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               -- micro-unit quantization of each lp addend before the
               -- sum, mirroring operators/lm.py (fold-order-independent
               -- by construction; 1000000.0 CAST AS DOUBLE per the
               -- decimal-literal rule)
               ROUND(-(CAST(CAST(SUM(CAST(ROUND(lp * CAST(1000000.0 AS DOUBLE), 0)
                                        AS BIGINT)) AS BIGINT) AS DOUBLE)
                       / CAST(1000000.0 AS DOUBLE))
                     / CAST(COUNT(*) AS DOUBLE), 6) AS nll_bits
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """
