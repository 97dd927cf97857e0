"""BPE merge-candidate mining over the documents corpus.

``bpe_merge_candidates``: the top-20 adjacent-character pairs by
word-frequency-weighted count — byte-pair-encoding iteration 1 over
the corpus (operators/bpe.py), the tokenizer-training primitive the
training-data mandate names ("a BPE-ish regex" token path in
SURVEY.md's beyond-reference tier gets its trainer-side counterpart
here).

Exactness: pure integer counting over a deterministic enumeration —
both engines enumerate pairs as ``substr(tok, i, 2)`` for
``i ∈ [1, len)`` over the same whitespace vocab (llm_oracles.TOKS),
weight by the same BIGINT word counts, and cut at k with the total
order (count DESC, pair ASC), so the LIMIT boundary cannot straddle a
tie differently cross-engine.

Scale shape: corpus text is touched ONCE, by the word-frequency
aggregate (map-side partial counts into a vocab-bounded shuffle —
Heaps' law keeps distinct words sub-linear in corpus size); pair
enumeration explodes DISTINCT words only, weighted — at 100 TB that is
millions of vocab rows, not trillions of corpus positions. The final
argmax is TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.bpe import bpe_top_merges
from ..sources import load_table
from .llm_oracles import TOKS

#: how many merge candidates the pair emits
TOP_K = 20


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pair, n_occurrences): top-TOP_K BPE merge candidates."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_top_merges(docs, TOP_K)


QUERIES = {
    "bpe_merge_candidates": q_bpe_merge_candidates,
}

ORACLES: dict[str, str] = {
    "bpe_merge_candidates": f"""
        WITH toks AS (
            SELECT unnest({TOKS}) AS tok
            FROM documents WHERE text IS NOT NULL
        ),
        vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS wt
            FROM toks WHERE len(tok) >= 2 GROUP BY tok
        ),
        pairs AS (
            SELECT unnest(list_transform(
                       range(1, len(tok)), i -> substr(tok, i, 2)
                   )) AS pair,
                   wt
            FROM vocab
        )
        SELECT pair, CAST(SUM(wt) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT {TOP_K}
    """,
}
