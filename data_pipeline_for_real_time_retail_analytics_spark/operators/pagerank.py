"""Fixed-iteration PageRank — iterative link analysis as a chain of
joins and aggregations (Page et al. 1999; the MapReduce/Pregel textbook
formulation re-expressed as DataFrame ops).

Why it belongs here: the engine's iterative surface so far is min-label
propagation (connected components, operators/dedup.py) — a SELECTION
fixpoint. PageRank is the other canonical iterative class: a WEIGHTED
mass-propagation fixpoint, the shape of influence scoring,
random-walk-with-restart similarity, and label spreading. A retail
deployment uses it directly: rank products by co-purchase centrality
(which products hold the catalog together), rank users by interaction
centrality.

ALL-INTEGER formulation: ranks live in 1e6-unit BIGINTs (every node
starts at 1,000,000 units ≡ mass 1); each step sends
``p DIV outdeg`` units down every edge (integer floor division), and
the damping mix is ``(15·SCALE) DIV 100 + (85·Σ inbound) DIV 100`` —
no float exists anywhere, so a DuckDB oracle that unrolls the same
iterations matches BIT-FOR-BIT, ties and all. Floor remainders leak a
few units of mass per node per step (bounded by outdeg·iters units ≈
1e-5 of a node's mass) — the price of exactness, irrelevant to
ranking, and identical on both engines. Dangling nodes (no out-edges)
simply leak their mass — the classic simplification; with symmetric
co-purchase edges every node has outdeg ≥ 1 anyway.

Spark-first shapes (100 TB): each iteration is ONE shuffle — an
edge-join on src (contributions) partial-aggregated on dst; the rank
frame is node-grain. The edge table is materialized once
(``localCheckpoint``), hash-partitioned on src so no iteration
re-shuffles it; the iteration chain itself is linear (rank_i feeds
only rank_{i+1}), so the single final action executes every iteration
exactly once with no per-iteration barrier. A fixed iteration count is
the production norm for ranking (convergence to a tolerance is a
driver-side loop on the same body).

Reference parity: the reference has no graph surface (its
transformation layer is dbt-declared scaffolding); beyond-reference
curation/analytics suite.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["symmetric_edges", "pagerank_fixed", "pagerank_weighted_fixed"]


def _materialize_pair(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Eagerly localCheckpoint two INDEPENDENT frames concurrently
    (guide §2.6): both derive from the already-checkpointed edge table,
    so their materialization jobs share no lineage and the second one's
    tasks back-fill the executors the first one's tail frees. Measured
    r14: the two sequential node/degree jobs per PageRank cell collapse
    into one overlapped wave."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(a.localCheckpoint)
        fb = pool.submit(b.localCheckpoint)
        return fa.result(), fb.result()

#: rank unit: 1e6 units == mass 1.0
SCALE = 1_000_000
#: damping numerator/denominator (d = 0.85) — integer mix only
DAMP_NUM, DAMP_DEN = 85, 100


def symmetric_edges(
    pairs: DataFrame, a_col: str, b_col: str, canonical: bool = False
) -> DataFrame:
    """(src, dst) with both directions of each undirected pair —
    co-purchase / co-occurrence graphs are undirected; PageRank wants
    directed edges.

    ``canonical=True`` skips the dedup shuffle: when the input is
    already DISTINCT with ``a < b`` (the usual pair-mining output), the
    forward and reverse sets are disjoint and individually distinct, so
    the union needs no ``distinct()`` — measured ~9% off the whole
    part_pagerank cell at sf0.1 (the 2·|pairs|-row shuffle is real but
    the basket pair-mining dominates; NOTES r9)."""
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    out = fwd.unionByName(rev)
    return out if canonical else out.distinct()


def _pagerank(
    edges: DataFrame, iterations: int, out_mass: Column, contrib: Column
) -> DataFrame:
    """The iteration body both PageRank forms share: (node, rank_units)
    after ``iterations`` exact-integer steps over ``edges`` (src, dst,
    ...). ``out_mass`` is the per-src aggregate (aliased) each node's
    mass splits by; ``contrib`` is the per-edge contribution, over
    ``rank_units``, the edge columns and that alias. Nodes = every id
    appearing as src or dst; initial rank SCALE units each.

    The edges are checkpointed FIRST — hash-partitioned on src, the key
    of every iteration's join, so no iteration re-shuffles the edge
    table (localCheckpoint preserves the repartition's output
    partitioning) — and nodes/out-mass are derived from the checkpointed
    frame: deriving them from the raw lineage first made each of the
    three materializations re-execute the whole upstream mining subtree
    (3× the pair-mining cost per cell — measured on
    part_pagerank_weighted, whose edges come straight from lineitem).

    Each iteration's aggregated contribution frame is broadcast into the
    rank-update left join (guide §3.1): it is node-grain — strictly no
    larger than the node set — so the join needs no exchange or sort on
    either side (nodes is checkpointed once and reread). The registered
    graphs are part-CATALOG-grain, dimension-sized next to lineitem. At
    4 cores the shuffle join ran one or two more jobs per query and no
    faster (NOTES.md). A web-scale node set that outgrows executor
    memory needs the shuffle join back.
    """
    edges = edges.repartition("src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out = edges.groupBy("src").agg(out_mass)
    # nodes and out-mass both read the checkpointed edges and are
    # independent of each other — overlap the two eager jobs (§2.6)
    nodes, out = _materialize_pair(nodes, out)

    # the restart term is a compile-time integer: (15·SCALE) DIV 100
    base_units = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN
    rank = nodes.select("node", F.lit(SCALE).cast("long").alias("rank_units"))
    # NO per-iteration checkpoint (r13): with edges/nodes/out-mass
    # materialized, the unrolled chain is LINEAR — each rank_i is
    # referenced exactly once, by rank_{i+1} — so the single final
    # action executes every iteration exactly once and a per-iteration
    # barrier bought nothing but job-scheduling overhead (measured: the
    # part_pagerank cell ran 38 driver jobs, wall dominated by the
    # eager checkpoints' stage round-trips). Deep unrolls (10+ fixed
    # iterations) should re-introduce a checkpoint every few rounds to
    # bound plan depth; at the registry's 3 iterations the chain is
    # shallow.
    for _ in range(iterations):
        inbound = (
            edges.join(rank.withColumnRenamed("node", "src"), "src")
            .join(out, "src")
            .select(F.col("dst").alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inbound"))
        )
        rank = nodes.join(F.broadcast(inbound), "node", "left").select(
            "node",
            (
                F.lit(base_units).cast("long")
                + F.expr(
                    f"({DAMP_NUM} * coalesce(inbound, 0L)) DIV {DAMP_DEN}"
                )
            )
            .cast("long")
            .alias("rank_units"),
        )
    return rank


def pagerank_fixed(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """(node, rank_units) after ``iterations`` exact-integer PageRank
    steps over ``edges`` (src, dst). Nodes = every id appearing as src
    or dst; initial rank SCALE units each.

    p'(u) = (15·SCALE) DIV 100  +  (85 · Σ_{v→u} (p(v) DIV outdeg(v))) DIV 100
    """
    return _pagerank(
        edges,
        iterations,
        F.count(F.lit(1)).alias("outdeg"),
        F.expr("rank_units DIV outdeg"),
    )


def pagerank_weighted_fixed(
    edges: DataFrame, iterations: int = 3, weight_col: str = "w"
) -> DataFrame:
    """Weighted PageRank: like ``pagerank_fixed`` but each edge carries
    an integer weight and a node's mass splits PROPORTIONALLY to its
    out-edge weights instead of uniformly:

    p'(u) = (15·SCALE) DIV 100
          + (85 · Σ_{v→u} floor(p(v)·w(v,u) / W(v))) DIV 100

    with W(v) = Σ out-weights of v. Still all-integer, so an unrolled
    DuckDB oracle matches bit-for-bit (plans/wpagerankq.py).

    Overflow discipline: ``p·w`` naively needs BIGINT×BIGINT headroom
    (rank mass can reach ~SCALE·n_nodes on a hub while w is unbounded),
    so the contribution uses the exact floor identity

        floor(p·w / W) = (p DIV W)·w + ((p mod W)·w) DIV W

    whose intermediates are bounded by ``w·W`` — edge-local magnitudes,
    never rank-mass-sized. DuckDB verifies the identity from the other
    side by computing the plain product in HUGEINT.
    """
    return _pagerank(
        edges,
        iterations,
        F.sum(F.col(weight_col)).cast("long").alias("outw"),
        # floor(p·w / W) via the bounded-intermediate identity
        F.expr(
            f"(rank_units DIV outw) * {weight_col}"
            f" + ((rank_units % outw) * {weight_col}) DIV outw"
        ),
    )
