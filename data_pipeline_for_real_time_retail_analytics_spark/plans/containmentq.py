"""Containment-duplicate query (operators/containment.py).

``containment_dup_pairs``: ordered (contained, container) pairs over
the PLANTED corpus (plans/llm.py conventions: originals ∪ every-25th
document with its first two words dropped, ids offset by 10M). The
planted truncations are the known positives — dropping two words
removes shingles and adds none, so every planted copy is fully
contained in its original — and they are exactly the pair class the
Jaccard tiers (minhash_lsh_dupes, ngram_jaccard_pairs) also see; what
this query adds is the asymmetric-size class Jaccard structurally
misses (tests/test_containmentq.py pins a hand-built one).

All-integer output (shared counts, rare-set sizes, integer
cross-multiplied threshold) — no float surface anywhere, so the DuckDB
oracle matches bit-for-bit with no quantization machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.containment import containment_pairs
from ..operators.dedup import plant_near_dups
from .corpusbase import PLANT_EVERY_DOCS, _docs
from .llm_oracles import PLANTED, SHINGLES

DF_CAP = 25
THRESHOLD_PCT = 90


def q_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-shingle containment pairs (≥90%) over the planted corpus."""
    planted = plant_near_dups(_docs(spark, sf_dir), every=PLANT_EVERY_DOCS)
    return containment_pairs(
        planted, df_cap=DF_CAP, threshold_pct=THRESHOLD_PCT
    ).orderBy("contained_id", "container_id")


QUERIES = {
    "containment_dup_pairs": q_containment_dup_pairs,
}

ORACLES: dict[str, str] = {
    "containment_dup_pairs": rf"""
        WITH {PLANTED},
        {SHINGLES},
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shn),
        dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        rare AS (
            SELECT e.doc_id, e.s
            FROM ex e JOIN dfreq USING (s) WHERE dfreq.df <= {DF_CAP}
        ),
        nr AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contained_rare
            FROM rare GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM rare a JOIN rare b
              ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT s.contained_id, s.container_id, s.n_shared,
               nr.n_contained_rare
        FROM shared s JOIN nr ON nr.doc_id = s.contained_id
        WHERE 100 * s.n_shared >= {THRESHOLD_PCT} * nr.n_contained_rare
        ORDER BY contained_id, container_id
    """,
}
