"""PMI collocation extraction.

``pmi_collocations``: top-20 adjacent-token collocations by pointwise
mutual information (Church & Hanks 1990, "Word association norms,
mutual information, and lexicography") with a minimum-count support
floor — the classic corpus-linguistics operator a curation pipeline
uses to surface multiword units, templated phrases, and tokenizer-merge
candidates (high-PMI pairs are exactly what BPE merges first).

    PMI(a,b) = ln c(a,b) + ln N − ln c(a,·) − ln c(·,b)

computed in the log-sum form deliberately: every ln argument is an
exact integer-valued double (both engines produce the identical
double), the four-term chain evaluates left-to-right identically, and
the single result is micro-unit quantized — no product ever forms, so
nothing overflows at any corpus size (c(a,b)·N at 100 TB exceeds
BIGINT in the ratio form; the log form never sees it).

Composition: the registered bigram machinery (`operators/lm.py
doc_bigrams` — the lm_perplexity corpus pass) feeds one bigram-grain
count; marginals derive from the count table (no second corpus scan).
The count table feeds three aggregates → localCheckpoint (the
shared-frames rule); the min-count filter prunes the long tail BEFORE
the marginal joins. The marginal joins are vocabulary-keyed sort-merge
— the lm shape — and the single-row N broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import doc_bigrams
from .corpusbase import _docs
from .llm_oracles import TOKS

#: support floor — a collocation seen fewer times is tail noise and PMI
#: degenerates toward ln N for hapax pairs
MIN_COUNT = 5
TOP_N = 20


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c12, pmi_micro): strongest adjacent collocations."""
    c12 = (
        doc_bigrams(_docs(spark, sf_dir))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint()
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    n = c12.agg(F.sum("c12").cast("long").alias("n"))
    pmi = (
        F.log(F.col("c12").cast("double"))
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
    )
    return (
        c12.where(F.col("c12") >= MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(pmi * F.lit(1_000_000.0), 0).cast("long").alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(TOP_N)
    )


QUERIES = {
    "pmi_collocations": q_pmi_collocations,
}

ORACLES: dict[str, str] = {
    "pmi_collocations": rf"""
        WITH t AS (SELECT {TOKS} AS w FROM documents),
        bg AS (
            SELECT unnest(list_slice(w, 1, len(w) - 1)) AS w1,
                   unnest(list_slice(w, 2, len(w))) AS w2
            FROM t WHERE len(w) >= 2
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2
        ),
        c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
        nn AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM c12)
        SELECT b.w1, b.w2, b.c12,
               CAST(ROUND((ln(CAST(b.c12 AS DOUBLE))
                           + ln(CAST(nn.n AS DOUBLE))
                           - ln(CAST(c1.c1 AS DOUBLE))
                           - ln(CAST(c2.c2 AS DOUBLE)))
                          * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT)
                   AS pmi_micro
        FROM c12 b
        JOIN c1 USING (w1)
        JOIN c2 USING (w2)
        CROSS JOIN nn
        WHERE b.c12 >= {MIN_COUNT}
        ORDER BY pmi_micro DESC, w1, w2 LIMIT {TOP_N}
    """,
}
