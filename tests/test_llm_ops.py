"""Unit tests for the LLM training-data operators (dedup / similarity /
text analysis / multimodal) on small crafted frames.

Cross-engine value parity for every operator is covered separately by
tests/test_oracle_parity.py (the llm queries are in oracle_sql()); here
we pin the *semantics* on inputs where the right answer is obvious.
"""

import hashlib
import math
import threading

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_real_time_retail_analytics_spark.operators import (
    ann_topk_ivf,
    ann_topk_sign_lsh_multiprobe,
    dedup_clusters,
    dedup_keep_canonical,
    ann_topk_sign_lsh,
    cosine_topk,
    decode_image,
    exact_dedup,
    extract_features,
    media_table,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    plant_near_dups,
    sample_frames,
    simhash_pairs,
    simhash_table,
    token_stats,
    with_shingles,
    word_shingles,
)
from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import (
    corpus_filter,
    doc_fingerprint,
    language_id,
    quality_score,
    repetition_ratio,
)

FP_MOD = 1_000_000_007


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),
        (1, "quick brown fox jumps over the lazy dog", "en", "s0", 39),  # near-dup of 0
        (2, "el perro de la casa es muy grande y fuerte", "es", "s0", 42),
        (3, "completely different content about spark engines", "en", "s1", 48),
        (4, "the quick brown fox jumps over the lazy dog", "en", "s1", 43),  # exact dup of 0
        (5, "xy", "en", "s1", 2),  # too short for 3-shingles
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_keeps_lowest_id(spark, docs):
    out = exact_dedup(docs, ["text"])
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 4 not in ids  # doc 4 is the exact dup of doc 0
    assert ids == {0, 1, 2, 3, 5}


def test_word_shingles_short_text_empty(spark, docs):
    out = docs.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in out}
    assert by_id[5] == []  # 2 tokens < n=3 → empty, not a descending-sequence crash
    assert "the quick brown" in by_id[0]


_AB14 = " ".join(["a", "b"] * 7)

#: text -> {n: word_shingles(text, n)}; edge texts a tokenizer can get
#: wrong (null, empty, whitespace-only, fewer than n tokens, runs of
#: mixed whitespace, repeated tokens)
_SHINGLE_CASES = [
    (None, {1: [], 2: [], 3: [], 5: [], 13: []}),
    ("", {1: [""], 2: [], 3: [], 5: [], 13: []}),
    ("   ", {1: [""], 2: [], 3: [], 5: [], 13: []}),
    ("a b", {1: ["a", "b"], 2: ["a b"], 3: [], 5: [], 13: []}),
    (
        "  x \t y\n\nz  ",
        {1: ["x", "y", "z"], 2: ["x y", "y z"], 3: ["x y z"], 5: [], 13: []},
    ),
    ("a a a a a a", {1: ["a"], 2: ["a a"], 3: ["a a a"], 5: ["a a a a a"], 13: []}),
    (
        _AB14,
        {
            1: ["a", "b"],
            2: ["a b", "b a"],
            3: ["a b a", "b a b"],
            5: ["a b a b a", "b a b a b"],
            13: ["a b a b a b a b a b a b a", "b a b a b a b a b a b a b"],
        },
    ),
]


@pytest.mark.parametrize("n", [1, 2, 3, 5, 13])
def test_word_shingles_literal_arrays(spark, n):
    texts = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(_SHINGLE_CASES)], "doc_id long, text string"
    )
    out = texts.select("doc_id", word_shingles(F.col("text"), n).alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert got == {i: want[n] for i, (_, want) in enumerate(_SHINGLE_CASES)}


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` call in a plan string, parentheses
    balanced."""
    bodies, i = [], plan.find("lambdafunction(")
    while i >= 0:
        depth = 0
        for j in range(i + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        bodies.append(plan[i : j + 1])
        i = plan.find("lambdafunction(", i + 1)
    return bodies


def test_with_shingles_lambdas_do_not_tokenize(spark, docs):
    """No higher-order-function lambda of the optimized shingle plan
    splits text: Catalyst does not share subexpressions inside a lambda,
    so a split there runs once per shingle instead of once per slice."""
    plan = with_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies and "split(" in plan
    assert [b for b in bodies if "split(" in b] == []


def _minhash_reference(shingles: list[str], num_perm: int) -> list:
    halves = [
        (int(h[:8], 16), int(h[8:16], 16))
        for h in (hashlib.md5(s.encode()).hexdigest() for s in shingles)
    ]
    return [
        min(((h1 + i * h2) % (1 << 32) for h1, h2 in halves), default=None)
        for i in range(num_perm)
    ]


def test_minhash_signature_values_and_one_md5_per_shingle(spark):
    """Per-seed minima equal a Python reference (null for no shingles),
    and md5 appears once in the optimized plan: the hash array is the
    fold's argument, evaluated once per row, not a lambda subexpression
    re-evaluated per seed."""
    rows = [(0, ["a b c", "b c d", "c d e"]), (1, ["x"]), (2, [])]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    out = df.select("doc_id", minhash_signature(F.col("shingles"), 8).alias("sig"))
    got = {r["doc_id"]: r["sig"] for r in out.collect()}
    assert got == {i: _minhash_reference(sh, 8) for i, sh in rows}
    assert out._jdf.queryExecution().optimizedPlan().toString().count("md5(") == 1


def test_ngram_jaccard_finds_near_dup_only(spark, docs):
    pairs = ngram_jaccard_pairs(docs, block_col=None, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 4) in got  # exact dup: jaccard 1.0
    assert (0, 1) in got  # near dup: 1 word dropped
    assert all(p[0] in (0, 1) and p[1] in (1, 4) for p in got)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 4)] == 1.0  # identical docs always collide in every band


def test_verify_then_dedup_rounding_boundary(spark):
    """The size-ratio prefilter must be conservative w.r.t. the
    HALF_UP-rounded final filter (r14 fix): a pair with true jaccard
    AND size ratio both in [threshold − 5e-5, threshold) passes
    ``round(jac, 4) >= threshold`` yet fails the raw ``min/max >=
    threshold`` bound — the old prefilter dropped it. Constructed
    boundary pair: |A| = 9999 ⊂ B, |B| = 20000 → jac = ratio =
    9999/20000 = 0.49995, round(., 4) = 0.5 = threshold."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        _verify_then_dedup,
    )

    cand = spark.range(1).select(
        F.lit(1).cast("long").alias("doc_a"),
        F.lit(2).cast("long").alias("doc_b"),
        F.sequence(F.lit(1), F.lit(9999)).alias("sh_a"),
        F.lit(9999).alias("n_a"),
        F.sequence(F.lit(1), F.lit(20000)).alias("sh_b"),
        F.lit(20000).alias("n_b"),
    )
    rows = _verify_then_dedup(cand, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.5)]


def test_incremental_pairs_find_new_vs_corpus_only(spark, docs):
    """New-batch docs match their corpus near-dups; no corpus×corpus or
    new×new pair ever appears, and the jaccard values agree with the
    self-join formulation on the same underlying pairs."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        minhash_lsh_pairs_between,
    )

    planted = plant_near_dups(docs, every=2, id_offset=100)
    new_batch = planted.where(planted.doc_id >= 100)
    corpus = planted.where(planted.doc_id < 100)
    got = {
        (r["corpus_id"], r["new_id"]): r["jaccard"]
        for r in minhash_lsh_pairs_between(
            new_batch, corpus, threshold=0.1
        ).collect()
    }
    assert got, "planted mutants must collide with their originals"
    assert all(c < 100 <= n for c, n in got)
    self_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(planted, threshold=0.1).collect()
    }
    for (c, n), j in got.items():
        assert self_pairs.get((c, n)) == j


def test_dedup_keep_canonical_drops_only_non_canonical(spark, docs):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_canonical,
    )

    planted = plant_near_dups(docs, every=2, id_offset=100)
    pairs = minhash_lsh_pairs(planted, threshold=0.5)
    clusters = dedup_clusters(pairs)
    survivors = {r["doc_id"] for r in dedup_keep_canonical(planted, clusters).collect()}
    clustered = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    all_ids = {r["doc_id"] for r in planted.select("doc_id").collect()}
    expect = {i for i in all_ids if clustered.get(i, i) == i}
    assert survivors == expect


def test_simhash_identical_docs_distance_zero(spark, docs):
    sh = {r["doc_id"]: r["sh"] for r in simhash_table(docs).collect()}
    assert sh[0] == sh[4]
    # 64-bit fingerprint in a signed long (bit 63 = sign bit)
    assert -(2**63) <= sh[0] < 2**63
    pairs = simhash_pairs(docs, max_hamming=0, block_col=None)
    assert (0, 4) in {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}


def test_plant_near_dups_is_deterministic(spark, docs):
    a = plant_near_dups(docs, every=2, id_offset=100).orderBy("doc_id").collect()
    b = plant_near_dups(docs, every=2, id_offset=100).orderBy("doc_id").collect()
    assert a == b
    planted = [r for r in a if r["doc_id"] >= 100]
    assert planted and all(
        r["text"].split(" ")[0] not in ("the",) or True for r in planted
    )
    # doc 0 planted as 100 with first 2 words dropped
    by_id = {r["doc_id"]: r["text"] for r in a}
    assert by_id[100] == "brown fox jumps over the lazy dog"


def test_token_stats_counts(spark, docs):
    row = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert row[0]["n_tokens_ws"] == 9
    assert row[0]["n_chars"] == 43
    assert row[0]["n_tokens_bpe"] == 9  # plain words, no punctuation
    assert row[5]["n_tokens_ws"] == 1


def test_language_id_predictions(spark, docs):
    pred = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
    assert pred[0] == "en"  # two 'the', one 'over'... 'the' in lexicon
    assert pred[2] == "es"  # el/de/la/es/y hits
    assert pred[5] == "und"  # no stopword hits


def test_quality_score_bounds(spark, docs):
    rows = quality_score(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
    by_id = {r["doc_id"]: r["quality_score"] for r in rows}
    assert by_id[5] < by_id[0]  # 2-char doc scores below a real sentence


def test_doc_fingerprint_matches_python(spark, docs):
    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}

    def fp(text):
        acc = 0
        for ch in text:
            acc = (acc * 31 + ord(ch)) % FP_MOD
        return acc

    for r in docs.collect():
        assert got[r["doc_id"]] == fp(r["text"])


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
        (4, [2.0, 0.0, 0.0, 0.0], 0),  # same direction as 0 → cosine 1.0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(spark, vecs):
    out = cosine_topk(vecs.where("vec_id = 0"), vecs, k=2).collect()
    assert [r["match_id"] for r in out] == [4, 1]
    assert out[0]["cosine_sim"] == 1.0
    assert math.isclose(out[1]["cosine_sim"], 0.9 / math.hypot(0.9, 0.1), rel_tol=1e-6)


def test_ann_lsh_restricts_to_bucket(spark, vecs):
    out = ann_topk_sign_lsh(vecs.where("vec_id = 0"), vecs, k=5, n_bits=4).collect()
    ids = [r["match_id"] for r in out]
    # query bucket = {dim1>0} only; vec 4 shares it, vec 1 (dim2>0) and
    # vec 3 (dim1<0) hash elsewhere — that's the approximation tradeoff
    assert ids == [4]


def test_ann_multiprobe_recovers_neighbors(spark, vecs):
    # single probe from v0 (bucket 0b0001) sees only v4; multi-probe
    # reaches the 1-bit-away buckets 0b0000 (v3) and 0b0011 (v1)
    out = ann_topk_sign_lsh_multiprobe(
        vecs.where("vec_id = 0"), vecs, k=5, n_bits=4
    ).collect()
    assert [r["match_id"] for r in out] == [4, 1, 3]


def test_ann_ivf_probes_cells(spark, vecs):
    # centroids (n_cells=2, lowest ids) = v0 [1,0,0,0] and v1 [.9,.1,0,0];
    # cells: v0,v4 -> c0; v1,v2,v3 -> c1
    out = ann_topk_ivf(vecs.where("vec_id = 0"), vecs, k=4, n_cells=2, n_probe=2).collect()
    assert [r["match_id"] for r in out] == [4, 1, 2, 3]
    assert out[0]["cosine_sim"] == 1.0
    # with a single probe only the query's own cell is searched
    out1 = ann_topk_ivf(vecs.where("vec_id = 0"), vecs, k=4, n_cells=2, n_probe=1).collect()
    assert [r["match_id"] for r in out1] == [4]


def test_ivf_trained_centroids_recall_on_planted_dups(spark, sf_dir):
    """Lloyd-refined codebook: planted exact-copy queries must find their
    originals (same vector -> same nearest centroid -> same cell), giving
    recall ~1.0 at top-1 vs the brute-force ground truth."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_trained,
        plant_dup_vectors,
    )
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    planted = plant_dup_vectors(corpus, every=100)
    queries = planted.where(F.col("vec_id") >= 10_000_000)
    n_queries = queries.count()
    assert n_queries > 0

    out = ann_topk_ivf(
        queries, planted, k=3, n_cells=8, n_probe=2, trained=True, train_iters=3
    ).collect()
    top1 = {r["query_id"]: r["match_id"] for r in out if r["rank"] == 1}
    # brute-force ground truth for an exact copy is its original id
    hits = sum(1 for qid, mid in top1.items() if mid == qid - 10_000_000)
    assert hits / n_queries >= 0.9

    # training actually moved the codebook off its deterministic seed
    seed = {r["cid"] for r in ivf_centroids(corpus, 8).collect()}
    trained = ivf_centroids_trained(corpus, 8, n_iters=2).collect()
    assert trained and all(len(r["cv"]) == 64 for r in trained)
    assert {r["cid"] for r in trained} <= seed  # labels survive, values move


def test_multimodal_features_roundtrip(spark, docs):
    import hashlib

    feats = {r["doc_id"]: r for r in extract_features(media_table(docs)).collect()}
    for r in docs.collect():
        f = feats[r["doc_id"]]
        assert f["n_bytes"] == len(r["text"].encode())
        assert f["payload_sha256"] == hashlib.sha256(r["text"].encode()).hexdigest()
        assert f["width"] == r["n_chars"] % 640 + 16


def test_sample_frames_shape(spark, docs):
    out = sample_frames(media_table(docs), every_n_bytes=10).collect()
    by_id = {r["doc_id"]: r["frames"] for r in out}
    assert len(by_id[0]) == math.ceil(43 / 10)
    assert all(isinstance(f, (bytes, bytearray)) for f in by_id[0])


def test_decode_image_pillow_optional():
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")
    else:  # pragma: no cover - codec-enabled environments only
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (3, 2)).save(buf, format="PNG")
        assert decode_image(buf.getvalue()) == (3, 2, "RGB")


def test_dedup_clusters_connected_components(spark):
    # components: {1,2,3} via chained pairs, {5,6}; 9 appears only as a node
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_dedup_clusters_pathological_path_graph(spark):
    # a 101-node path has diameter 100: plain min-label propagation would
    # need 100 rounds (the pre-r04 loop capped at 20 and returned WRONG
    # labels here); pointer jumping halves the label-forest height every
    # round, so the default max_iterations=20 must solve it exactly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 100)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert out == {i: 0 for i in range(0, 101)}


def test_dedup_clusters_warns_when_unconverged(spark, caplog):
    import logging

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    # a fixpoint can never be PROVEN in a single round (the signature
    # needs two equal consecutive rounds), so max_iterations=1 must warn
    with caplog.at_level(logging.WARNING,
                         logger="data_pipeline_for_real_time_retail_analytics_spark.operators.dedup"):
        dedup_clusters(pairs, max_iterations=1).collect()
    assert any("without a proven fixpoint" in r.message for r in caplog.records)


def test_dedup_clusters_empty_pairs_do_not_block(spark):
    """An empty pair set yields an empty frame; the convergence sums are
    Observations, which must complete on an empty frame too."""
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(rows=dedup_clusters(pairs).collect()), daemon=True
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "dedup_clusters blocked on an empty pair set"
    assert out["rows"] == []


def test_dedup_clusters_job_count(spark):
    """Convergence is read from Observations on the label checkpoints,
    not from a separate sum job after each: 25 jobs on this graph, 33
    with the standalone sum jobs."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (3, 4), (7, 8)], "doc_a long, doc_b long"
    )
    group = "dedup-clusters-job-count"
    sc.setJobGroup(group, "dedup_clusters")
    try:
        out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 7}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 25


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 5, 6, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    kept = {r["doc_id"] for r in dedup_keep_canonical(docs, dedup_clusters(pairs)).collect()}
    assert kept == {1, 5, 9}  # cluster minima + the unclustered doc


def test_clean_text_masks_and_normalizes(spark):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textclean import cleaned_documents

    rows = [
        (1, "contact  me at bob@example.com   today"),
        (2, "see https://example.com/a?b=1 \t for more"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "bad\x00control\x1fchars"),
        (5, "  already clean  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_clean"] for r in cleaned_documents(df).collect()}
    assert out[1] == "contact me at <EMAIL> today"
    assert out[2] == "see <URL> for more"
    assert out[3] == "call <PHONE> now"
    assert out[4] == "badcontrolchars"
    assert out[5] == "already clean"


def test_token_entropy_matches_duckdb(spark, sf_dir):
    """Per-doc Shannon token entropy cross-checked against a DuckDB
    computation of the same definition on the same parquet."""
    import duckdb

    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import token_entropy
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {r["doc_id"]: r for r in token_entropy(docs).collect()}

    # mirror the operator's micro-unit quantization (each c*log2(c)
    # addend rounded to an exact BIGINT before the sum): the whole point
    # of the discipline is that both engines then agree EXACTLY — a
    # raw double-sum cross-check can differ by one micro-unit at a
    # rounding boundary depending on fold order, which is the flake
    # class the quantization removes
    con = duckdb.connect()
    want = con.execute(f"""
        WITH tok AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM read_parquet('{sf_dir}/documents.parquet')
        ), per_tok AS (
            SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
        )
        SELECT doc_id, SUM(c) AS n,
               ROUND(log2(CAST(SUM(c) AS DOUBLE))
                     - (CAST(CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE)
                              * log2(CAST(c AS DOUBLE))
                              * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT))
                          AS BIGINT) AS DOUBLE)
                        / CAST(1000000.0 AS DOUBLE))
                       / CAST(SUM(c) AS DOUBLE), 6) AS h
        FROM per_tok GROUP BY doc_id
    """).fetchall()
    assert len(want) == len(got)
    for doc_id, n, h in want:
        assert got[doc_id]["n_tokens"] == n
        assert got[doc_id]["token_entropy_bits"] == h

    # entropy sanity: repeated-token doc scores 0, distinct-token doc log2(n)
    tiny = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string")
    e = {r["doc_id"]: r["token_entropy_bits"] for r in token_entropy(tiny).collect()}
    assert e[1] == 0.0 and e[2] == 2.0


def test_benford_profile_matches_duckdb(spark, sf_dir):
    import duckdb

    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import benford_profile
    from data_pipeline_for_real_time_retail_analytics_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = benford_profile(li, "l_extendedprice").collect()
    assert [r["digit"] for r in got] == sorted({r["digit"] for r in got})
    assert abs(sum(r["observed_freq"] for r in got) - 1.0) < 1e-3

    con = duckdb.connect()
    want = {d: n for d, n in con.execute(f"""
        SELECT CAST(floor(v / pow(10, floor(log10(v)))) AS INT) AS digit,
               COUNT(*) AS n
        FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS v
              FROM read_parquet('{sf_dir}/lineitem.parquet') WHERE l_extendedprice > 0)
        GROUP BY 1
    """).fetchall()}
    for r in got:
        assert want[r["digit"]] == r["n"]
        import math
        assert abs(r["benford_freq"] - round(math.log10(1 + 1 / r["digit"]), 6)) < 1e-9


def test_repetition_ratio_known_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab ba ab ba ab -> 2/5 distinct
            (2, "all words differ here ok"),  # no repeated n-grams
            (3, "x"),                   # shorter than any n-gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_ratio(docs).collect()}
    assert out[1]["dup_bigram_frac"] == round(1 - 2 / 5, 6)
    # trigrams of doc 1: aba bab aba bab -> 2/4 distinct
    assert out[1]["dup_trigram_frac"] == 0.5
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["dup_bigram_frac"] == 0.0 and out[3]["dup_trigram_frac"] == 0.0


def test_corpus_filter_gates(spark):
    good = "the quick brown fox jumps over the lazy dog and keeps running fine"
    docs = spark.createDataFrame(
        [
            (1, good),                          # passes every gate
            (2, "too short"),                   # n_tokens < 10
            (3, " ".join(["spam ham eggs"] * 20)),  # dup trigrams ~1
            (4, " ".join(["12345"] * 30)),      # no alpha tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["keep"] for r in corpus_filter(docs).collect()}
    assert out == {1: True, 2: False, 3: False, 4: False}


def test_tfidf_top_terms_known_values(spark):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = [
        (r["doc_id"], r["rank"], r["term"], r["tf"], r["df"], r["tfidf"])
        for r in tfidf_top_terms(docs, k=2).orderBy("doc_id", "rank").collect()
    ]
    idf_rare = round(math.log(3 / 2) + 1, 6)  # df=1 terms, N=2
    assert out == [
        (1, 1, "a", 2, 1, round(2 * (math.log(3 / 2) + 1), 6)),
        (1, 2, "b", 1, 2, 1.0),  # df=2 -> idf = ln(3/3)+1 = 1
        (2, 1, "c", 1, 1, idf_rare),
        (2, 2, "b", 1, 2, 1.0),
    ]


def test_chunk_documents_boundaries(spark):
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(1, words), (2, "short doc")], "doc_id long, text string"
    )
    # chunk=4, overlap=1 -> stride 3 -> ceil((10-4)/3)+1 = 3 chunks at
    # token offsets 0/3/6, together covering all 10 tokens exactly
    out = [
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1)
        .orderBy("doc_id", "chunk_id")
        .collect()
    ]
    assert out == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w3 w4 w5 w6"),
        (1, 2, 4, "w6 w7 w8 w9"),
        (2, 0, 2, "short doc"),  # short doc: exactly one (short) chunk
    ]
    # consecutive chunks share exactly `overlap` tokens
    assert out[0][3].split()[-1] == out[1][3].split()[0]

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_contamination_pairs_finds_benchmark_leaks(spark):
    """A corpus doc containing a benchmark item's text verbatim (plus
    extra words) must be flagged with every benchmark n-gram matched;
    unrelated docs must not collide at n=4."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        contamination_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains bench 10
            (2, "one two three four five six seven"),     # clean
            (3, "alpha beta gamma delta"),                 # exact copy of bench 10
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "nine ten eleven twelve")],
        "doc_id long, text string",
    )
    out = contamination_pairs(corpus, bench, n=4, min_common=1).collect()
    got = {(r["doc_id"], r["bench_id"]): (r["n_common"], r["contamination_frac"])
           for r in out}
    # doc 3 == bench 10: the whole item leaked -> frac 1.0
    assert got[(3, 10)] == (1, 1.0)
    # doc 1 embeds bench 10 verbatim inside a longer text — the canonical
    # leak MUST still score 1.0 (frac normalizes by the BENCHMARK item's
    # n-grams, not the document's, or long hosts would score ~0)
    assert got[(1, 10)] == (1, 1.0)
    # clean doc and clean bench item never appear
    assert not any(d == 2 or b == 11 for d, b in got)
