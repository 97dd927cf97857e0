"""Property-based validation-engine tests (hypothesis): for arbitrary
small datasets, the single-pass Spark aggregate must agree with a
straightforward Python reimplementation of the reference semantics
(null-skipping rules, null_count profiling). The reference has no
property tests (SURVEY.md §5) — this is our upgrade on its strategy."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
    Severity,
    ValidationEngine,
    ValidationRule,
)

values = st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000))
datasets = st.lists(st.tuples(values, values), min_size=1, max_size=30)

RULES = [
    ValidationRule("a_not_null", "not_null", "a", Severity.ERROR),
    ValidationRule("a_range", "range", "a", Severity.WARNING, {"min": -100, "max": 100}),
    ValidationRule(
        "b_allowed", "allowed_values", "b", Severity.ERROR, {"values": [0, 1, 2]}
    ),
]


def _expected(rows):
    a = [r[0] for r in rows]
    b = [r[1] for r in rows]
    return {
        "rule__a_not_null": sum(1 for v in a if v is None),
        # range/allowed skip nulls (reference: validators.py:316-340)
        "rule__a_range": sum(1 for v in a if v is not None and not -100 <= v <= 100),
        "rule__b_allowed": sum(1 for v in b if v is not None and v not in (0, 1, 2)),
        "profile__a__null_count": sum(1 for v in a if v is None),
        "total_rows": len(rows),
    }


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=datasets)
def test_single_pass_counts_match_python_model(spark, rows):
    df = spark.createDataFrame(rows, "a long, b long")
    engine = ValidationEngine(rules=RULES, enable_profiling=True)
    got = engine.compile_plan(df, "t").first().asDict()
    for key, want in _expected(rows).items():
        assert got[key] == want, f"{key}: {got[key]} != {want} for rows={rows}"


# ---------------------------------------------------------------------------
# dedup invariants
# ---------------------------------------------------------------------------

texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=12
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=texts)
def test_exact_dedup_invariants(spark, rows):
    """exact_dedup keeps exactly one (the lowest-id) row per distinct
    text, for arbitrary corpora."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    kept = exact_dedup(df, ["text"]).collect()
    expected = {}
    for i, t in enumerate(rows):
        expected.setdefault(t, i)  # first occurrence = lowest id
    assert sorted(r["doc_id"] for r in kept) == sorted(expected.values())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                    max_size=50, unique=True))
def test_split_assignment_is_pure_function_of_id(spark, ids):
    """Split membership depends only on the id value — not on what else
    is in the dataset (stability under corpus growth)."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.sampling import (
        train_val_test_split,
    )

    full = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    half = spark.createDataFrame([(i,) for i in ids[::2]], "doc_id long")
    s_full = {r["doc_id"]: r["split"]
              for r in train_val_test_split(full, "doc_id").collect()}
    s_half = {r["doc_id"]: r["split"]
              for r in train_val_test_split(half, "doc_id").collect()}
    assert all(s_full[k] == v for k, v in s_half.items())


# ---------------------------------------------------------------------------
# simhash pigeonhole-banding exactness
# ---------------------------------------------------------------------------

@st.composite
def fingerprint_sets(draw):
    """(bits, unsigned fingerprints) drawn below 2^32 or 2^64 — 64
    covers the sign-bit regime where the long is negative (two's
    complement), 32 leaves the upper bands all zero."""
    bits = draw(st.sampled_from([32, 64]))
    fps = draw(st.lists(
        st.integers(min_value=0, max_value=2**bits - 1),
        min_size=2, max_size=14, unique=True,
    ))
    return bits, fps


@given(bf=fingerprint_sets(), max_hamming=st.integers(min_value=0, max_value=6))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_banding_equals_all_pairs(spark, bf, max_hamming):
    """For arbitrary 64-bit fingerprints, the banded equi-join candidate
    path must return EXACTLY the all-pairs Hamming-<=k answer (pigeonhole
    guarantee) — the property that makes the operator correct at scale."""
    from pyspark.sql import functions as F

    from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
        simhash_band_values,
    )

    _, fps = bf
    signed = [u - (1 << 64) if u >= (1 << 63) else u for u in fps]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(signed)], "doc_id long, sh long"
    )
    bands = max_hamming + 1
    banded = df.select(
        "doc_id", "sh",
        F.posexplode(simhash_band_values(F.col("sh"), bands)).alias(
            "band_id", "band_value"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in (
            a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_value") == F.col("b.band_value"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"), ham.alias("h"))
            .where(F.col("h") <= max_hamming)
            .dropDuplicates(["doc_a", "doc_b"]).collect()
        )
    }
    want = {
        (i, j)
        for i in range(len(fps)) for j in range(i + 1, len(fps))
        if bin(fps[i] ^ fps[j]).count("1") <= max_hamming
    }
    assert got == want


# -- chunk_documents: coverage/overlap invariants --------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.integers(min_value=1, max_value=300),
    chunk_tokens=st.integers(min_value=2, max_value=50),
    overlap=st.integers(min_value=0, max_value=49),
)
def test_chunk_documents_invariants(spark, n_tokens, chunk_tokens, overlap):
    """For any (doc length, chunk size, overlap < chunk size):
    - concatenating chunks with the overlap removed reproduces the doc
      exactly (no token lost, none duplicated beyond the overlap);
    - every chunk except the last has exactly chunk_tokens tokens;
    - consecutive chunks share exactly min(overlap, len(next)) tokens."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.textstats import chunk_documents

    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    words = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    chunks = [
        r["chunk_text"].split(" ")
        for r in chunk_documents(
            df, chunk_tokens=chunk_tokens, overlap=overlap
        ).orderBy("chunk_id").collect()
    ]
    stride = chunk_tokens - overlap
    rebuilt = chunks[0] + [t for c in chunks[1:] for t in c[overlap:]]
    assert rebuilt == words
    for c in chunks[:-1]:
        assert len(c) == chunk_tokens
    for a, b in zip(chunks, chunks[1:]):
        shared = min(overlap, len(b))
        assert a[stride:stride + shared] == b[:shared]
