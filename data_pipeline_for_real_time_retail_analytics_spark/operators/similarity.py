"""Embedding similarity search for LLM training-data pipelines.

Beyond-reference scope. Operates on an ``array<float>`` embedding column
(the `embeddings` table: vec_id, embedding float[64], label).

Two tiers:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, rank per query. Cost is
  |Q| × |corpus| dot products, all JVM-side (`zip_with` + `aggregate`
  fold, whole-stage codegen) — no Python, no Arrow hop. At 100 TB the
  corpus side stays partition-parallel and the query side is a broadcast.
- **sign-LSH bucketed ANN** — the scale path: bucket key = sign bits of
  the first B dimensions (axis-aligned random-hyperplane LSH; with
  PCA-rotated or learned projections at deployment). Join is bucket-equi,
  so cost scales with bucket occupancy, not |corpus|.

Determinism: all arithmetic is double-precision in index order on both
engines, so cosine values are bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Index-ordered double-precision dot product of two float arrays.

    Stays the ``aggregate``/``zip_with`` fold deliberately: an unrolled
    ``a[0]*b[0] + …`` chain (statically-known dim) was prototyped in r9
    to move the evaluation into whole-stage codegen, and measured NO
    win at the 90x corpus — the 64-term × 3 (dot + two norms) expression
    tree exceeds codegen's method-size budget and falls back to
    interpreted anyway, with added guard complexity (NOTES r9). The
    interpreted fold is the simpler of two interpreted forms.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _norm_of(vec_col: str, norm_col: str | None) -> Column:
    """The row's L2 norm: folded from the vector, or — when the caller
    already materialized it (``norm_col``) — read straight from that
    column. ``l2_norm`` over the same floats produces the identical
    double, so a CHECKPOINTED precomputed norm is bit-equal to the
    inline fold (r14: plans/annevalq.py folds each norm once into a
    shared localCheckpoint instead of once per variant subtree)."""
    return F.col(norm_col) if norm_col else l2_norm(F.col(vec_col))


def _topk(sim: DataFrame, k: int, *carry: str) -> DataFrame:
    """The ``k`` best matches per ``query_id`` from (query_id, match_id,
    *carry, sim) rows: ranked by sim descending, ties to the lower
    match_id, with the sim rounded to 6 places as ``cosine_sim`` — the
    shared tail of every top-k search here."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "match_id",
            *carry,
            F.round("sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector (cosine),
    excluding self-matches. The query side is broadcast — never shuffle
    the corpus for a lookup workload.

    Norms are folded once per INPUT row on each side (r13, guide §1.2):
    the per-pair ``cosine(qv, cv)`` re-folded both operands' norms on
    every one of the |Q|·n joined rows; ``dot/(qn·cn)`` is the identical
    expression tree (same doubles, same multiply/divide order), so every
    sim — and the rank/round-6 surface — is bit-identical. Pass
    ``norm_col`` when both inputs already carry the materialized norm
    (see ``_norm_of``)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm_of(vec_col, norm_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm_of(vec_col, norm_col).alias("cn"),
    )
    sim = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    return _topk(sim, k)


def sign_lsh_bucket(vec: Column, n_bits: int = 8, offset: int = 0) -> Column:
    """Axis-sign LSH bucket id: bit i set iff vec[offset+i+1] > 0
    (1-indexed). ``offset`` selects which dimension block feeds the
    bucket — the multi-table amplification uses disjoint blocks as
    independent hash tables."""
    return sum(
        [
            F.when(
                F.element_at(vec, offset + i + 1) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for i in range(n_bits)
        ],
        start=F.lit(0).cast("long"),
    )


def ann_topk_sign_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Equi-join on the bucket key → shuffle-partitioned by bucket; at scale
    add multi-probe (flip one bit) to trade cost for recall."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm_of(vec_col, norm_col).alias("qn"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm_of(vec_col, norm_col).alias("cn"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    # per-row norms folded before the join (r13): dot/(qn·cn) is the
    # identical expression tree to cosine() — bit-identical sims
    sim = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            "bucket",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    return _topk(sim, k, "bucket")


def ann_topk_sign_lsh_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> DataFrame:
    """Multi-probe variant of the sign-LSH ANN: each query also probes
    every bucket at Hamming distance 1 (one flipped sign bit), trading
    (n_bits+1)× candidate cost for the recall lost to near-boundary
    vectors. The corpus side keeps exactly one bucket per vector — the
    probe expansion explodes only the (small) query side, so the join
    stays bucket-equi and corpus-partition-parallel."""
    bucket = sign_lsh_bucket(F.col(vec_col), n_bits)
    probes = F.array(
        bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm_of(vec_col, norm_col).alias("qn"),
        F.explode(probes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm_of(vec_col, norm_col).alias("cn"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    # per-row norms folded before the join (r13): bit-identical sims
    sim = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    return _topk(sim, k)


def ann_topk_sign_lsh_multitable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Multi-TABLE sign-LSH ANN — classic LSH amplification (the E2LSH /
    FALCONN construction): ``n_tables`` independent hash tables, table t
    keyed by the sign bits of dimension block ``[t*n_bits, (t+1)*n_bits)``;
    a candidate is any corpus vector sharing the query's bucket in ANY
    table. Per-table collision probability for per-bit agreement p is
    p^n_bits; the union over L tables lifts recall to 1-(1-p^n_bits)^L —
    the dial that buys recall on weak-neighbor-structure corpora where one
    table cannot (measured in tests/test_ann_recall.py).

    Scale shape: the corpus side carries L rows per vector (one per
    table) but the join stays (table, bucket)-equi — shuffle-partitioned
    by key, never quadratic; candidate cost is the summed occupancy of L
    probed buckets. At 100 TB, L×corpus is a write-time indexed layout
    (one partition family per table), queries touch L partitions.

    Requires ``n_tables * n_bits <= dim`` — pass ``dim`` to have that
    checked eagerly. Without it, an out-of-range dimension block reads
    NULL under non-ANSI Spark, silently hashing EVERY vector to bucket 0
    of that table (a per-table cross product), or throws
    INVALID_ARRAY_INDEX under ANSI — neither is a useful failure mode.
    With the 64-dim test corpus the default 8×4 uses the first 32
    dimensions.
    """
    if dim is not None and n_tables * n_bits > dim:
        raise ValueError(
            f"n_tables({n_tables}) * n_bits({n_bits}) = {n_tables * n_bits} "
            f"exceeds the embedding dimension {dim}; out-of-range sign "
            "bits would degenerate to single-bucket tables"
        )
    tbl = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    sign_lsh_bucket(F.col(vec_col), n_bits, t * n_bits).alias(
                        "bucket"
                    ),
                )
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm_of(vec_col, norm_col).alias("qn"),
        tbl,
    ).select("query_id", "qv", "qn", "tb.tbl", "tb.bucket")
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cv"),
        _norm_of(vec_col, norm_col).alias("cn"),
        tbl,
    ).select("match_id", "cv", "cn", "tb.tbl", "tb.bucket")
    sim = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("match_id"))
        # cosine BEFORE the pair dedup: a pair colliding in several
        # tables recomputes the (cheap, map-local) dot product up to L
        # times, but the dedup shuffle then carries one double per
        # candidate instead of both embedding arrays — and first(sim)
        # partial-aggregates map-side (the simhash first(hamming)
        # pattern; value-deterministic since duplicates carry equal sim).
        # r13: norms fold once per (vector, table) row before the join —
        # dot/(qn·cn) is cosine()'s identical expression tree
        .select(
            "query_id",
            "match_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
        .groupBy("query_id", "match_id")
        .agg(F.first("sim").alias("sim"))
    )
    return _topk(sim, k)


def ivf_centroids(
    corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic IVF codebook: the ``n_cells`` lowest-id vectors.
    A deployment trains KMeans centroids on a sample; a fixed id-ordered
    sample keeps the operator reproducible and DuckDB-oracle-checkable
    while exercising the identical plan shape."""
    return corpus.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )


def ivf_centroids_trained(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """KMeans-style (Lloyd) refinement of the deterministic seed codebook
    — what a real deployment runs, kept fully in DataFrame ops so the
    index build is cluster-parallel:

    per iteration: assign every vector to its nearest centroid (broadcast
    codebook + struct-max argmax → one shuffled row per vector), then
    recompute each centroid as the element-wise mean of its members
    (posexplode to (cell, dim) partial averages → re-assemble the array
    ordered by dimension). The codebook is tiny, so each round ends in a
    ``localCheckpoint`` that truncates lineage; cost is n_iters scans of
    the training sample. Cells that lose every member disappear (standard
    KMeans dead-cell behavior) — callers get ≤ n_cells centroids.

    Training on a sample (``corpus.sample(...)``) is the 100 TB shape;
    assignment quality needs only representative centroids, not an exact
    optimum."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col).localCheckpoint()
    for _ in range(n_iters):
        assigned = _assign_cells(corpus, cents, "vid", "v", 1, id_col, vec_col)
        dim_means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
        )
        cents = (
            dim_means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(F.col("cell").alias("cid"), "cv")
            .localCheckpoint()
        )
    return cents


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_alias: str,
    vec_alias: str,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-``n_probe`` nearest cells per vector. Broadcast the codebook,
    rank per vector — map-side except a shuffle of n_cells rows per
    vector for the ranking window (n_cells is small by construction).

    The argmax/rank stages move only (id, cid, csim) — the n_cells-way
    candidate expansion must NOT carry the vector itself (measured at
    90x corpus: the fat shuffle was ~24 s of a 38.7 s assignment; the
    skinny shuffle + one id-keyed join-back to re-attach vectors is the
    corpus-scale shape)."""
    base = df.select(
        F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)
    )
    # per-row norm precompute (r13): one fold per vector and one per
    # centroid instead of two folds per (vector, centroid) pair;
    # dot/(vn·cn) is cosine()'s identical expression tree, so csim —
    # and the argmax/rank — is bit-identical
    cents = centroids.select("cid", "cv", l2_norm(F.col("cv")).alias("__cn"))
    sims = base.withColumn("__vn", l2_norm(F.col(vec_alias))).join(
        F.broadcast(cents), how="cross"
    ).select(
        id_alias,
        "cid",
        (
            dot(F.col(vec_alias), F.col("cv"))
            / (F.col("__vn") * F.col("__cn"))
        ).alias("csim"),
    )
    if n_probe == 1:
        # argmax via struct-max: partial-aggregates map-side, so the
        # shuffle carries one skinny row per vector — the corpus-side
        # shape
        best = sims.groupBy(id_alias).agg(
            F.max(F.struct("csim", "cid"))["cid"].alias("cell")
        )
        return base.join(best, id_alias).select(id_alias, vec_alias, "cell")
    w = Window.partitionBy(id_alias).orderBy(F.desc("csim"), F.desc("cid"))
    probed = (
        sims.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n_probe)
        .select(id_alias, F.col("cid").alias("cell"))
    )
    return base.join(probed, id_alias).select(id_alias, vec_alias, "cell")


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    train_iters: int = 4,
) -> DataFrame:
    """IVF-flavored ANN: corpus vectors live in their nearest-centroid
    cell (inverted lists = hash partitions on cell); queries probe their
    ``n_probe`` closest cells and rank candidates exactly. Cost per query
    is the probed cells' occupancy, not |corpus|; at 100 TB the cell
    assignment is a write-time partitioning of the corpus table and a
    query touches n_probe partitions.

    ``trained=True`` swaps the deterministic id-sample codebook for
    Lloyd-refined centroids (``ivf_centroids_trained``) — better-balanced
    cells, what a deployment runs; the default stays deterministic so the
    DuckDB oracle can reproduce it."""
    if trained:
        cents = ivf_centroids_trained(corpus, n_cells, train_iters, id_col, vec_col)
    else:
        cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    corpus_cells = _assign_cells(
        corpus, cents, "match_id", "cv2", 1, id_col, vec_col
    ).withColumn("cn2", l2_norm(F.col("cv2")))
    query_cells = _assign_cells(
        queries, cents, "query_id", "qv", n_probe, id_col, vec_col
    ).withColumn("qn", l2_norm(F.col("qv")))
    # per-row norms before the cell join (r13): bit-identical sims
    sim = (
        corpus_cells.join(query_cells, "cell")
        .where(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            (dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2"))).alias("sim"),
        )
        # a vector probed via 2 cells can pair with the same match twice
        .dropDuplicates(["query_id", "match_id"])
    )
    return _topk(sim, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: only vectors
    in the same sign bucket are compared (near-identical vectors always
    share it), so the pair space is bucketed, not quadratic."""
    v = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("n"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    # per-row norms ride the shared bucketed subtree (one fold per row,
    # r13); dot/(a.n·b.n) is cosine()'s identical expression tree —
    # bit-identical sims, so the threshold set is unchanged
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    # hint("merge"): the self-join's two sides are the SAME bucketed
    # subtree; left to AQE a broadcast choice at small SF serializes one
    # copy through the driver and recomputes the shared subtree twice,
    # while the SMJ pin makes both sides identical shuffle exchanges
    # that ReuseExchange collapses to one scan+bucket computation (the
    # minhash band-join precedent; adoption criterion per NOTES r8 is
    # "expensive shared subtree" — at production corpus sizes the build
    # side exceeds any broadcast threshold anyway, so the pin only
    # removes the small-SF pathology the r8 plan audit measured).
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .where(F.round(sim, 6) >= threshold)
    )


def plant_dup_vectors(
    df: DataFrame,
    every: int = 100,
    id_offset: int = 10_000_000,
    id_col: str = "vec_id",
) -> DataFrame:
    """Union the corpus with exact copies of every ``every``-th vector
    under new ids — known cosine-1.0 positives for near-dup queries."""
    dups = df.where(F.col(id_col) % every == 0).withColumn(
        id_col, F.col(id_col) + id_offset
    )
    return df.unionByName(dups)
