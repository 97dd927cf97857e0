"""Blocked fuzzy-matching query (operators/fuzzy.py).

``fuzzy_customer_pairs``: customer records one typo apart
(levenshtein ≤ 1 on c_name), blocked by nation — the record-linkage /
MDM dedup shape. All-integer distance on both engines, no float
surface. Block sizes here are |customers|/25, and the operator's
max_block guard is sized to hold through the bench SF while still
demonstrating the loud-failure contract (tests pin it on a degenerate
single-block input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.fuzzy import blocked_fuzzy_pairs
from ..sources import load_table

MAX_DIST = 1
#: |customer|/25 per block ≈ 600 at sf0.1, 6,000 at sf1 — the guard
#: trips beyond that, which is the point (refine the key, don't scale
#: the quadratic)
MAX_BLOCK = 20_000


def q_fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-nation customer pairs with names one edit apart."""
    cust = load_table(spark, sf_dir, "customer")
    return blocked_fuzzy_pairs(
        cust,
        id_col="c_custkey",
        text_col="c_name",
        block_col="c_nationkey",
        max_dist=MAX_DIST,
        max_block=MAX_BLOCK,
    ).orderBy("id_a", "id_b")


QUERIES = {
    "fuzzy_customer_pairs": q_fuzzy_customer_pairs,
}

ORACLES: dict[str, str] = {
    "fuzzy_customer_pairs": f"""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_name AS text_a, b.c_name AS text_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= {MAX_DIST}
        ORDER BY id_a, id_b
    """,
}
