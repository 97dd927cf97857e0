"""DSIR importance-selection query (operators/dsir.py).

``dsir_selected``: the 100 corpus documents whose hashed-unigram
feature mix best matches the TARGET domain (here: the ``lang = 'en'``
slice — a stand-in for "quality domain" with known structure, so the
selection visibly skews toward and within English). Weights are exact
1e-6-unit BIGINTs: every ln-ratio term is an identical double on both
engines (integer bucket counts → one division, one ln, one subtract,
mirrored operation order), quantized before the per-document sum.

One explode pass featurizes the corpus; the target's bucket marginals
come from the SAME (doc, lang, bucket) count table (a filter, not a
second scan); the 256-row weight table broadcasts into the scoring
join. At production scale the top-K rank becomes a sample-quantile cut
value broadcast as a filter (the CCNet substitution, plans/ccnetq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dsir import doc_bucket_counts, dsir_top_k, dsir_weights
from .corpusbase import _docs
from .llm_oracles import TOKS

N_BUCKETS = 256
TARGET_LANG = "en"
TOP_K = 100


def q_dsir_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 documents by DSIR importance weight against the English
    target slice."""
    docs = _docs(spark, sf_dir)
    counts = doc_bucket_counts(
        docs, n_buckets=N_BUCKETS, extra_cols=["lang"]
    ).localCheckpoint()  # referenced twice (corpus + target marginals)
    target = counts.where(F.col("lang") == TARGET_LANG)
    weights = dsir_weights(
        counts.select("doc_id", "bucket", "n"), target, n_buckets=N_BUCKETS
    )
    return dsir_top_k(weights, k=TOP_K)


_D = "CAST({} AS DOUBLE)"

QUERIES = {
    "dsir_selected": q_dsir_selected,
}

ORACLES: dict[str, str] = {
    "dsir_selected": rf"""
        WITH toks AS (
            SELECT doc_id, lang, unnest({TOKS}) AS t FROM documents
        ),
        cnt AS (
            SELECT doc_id, lang,
                   CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                       % {N_BUCKETS} AS bucket,
                   COUNT(*) AS n
            FROM toks GROUP BY 1, 2, 3
        ),
        p AS (SELECT bucket, SUM(n) AS p_n FROM cnt GROUP BY 1),
        q AS (SELECT bucket, SUM(n) AS q_n FROM cnt
              WHERE lang = '{TARGET_LANG}' GROUP BY 1),
        pt AS (SELECT SUM(p_n) AS p_tot FROM p),
        qt AS (SELECT SUM(q_n) AS q_tot FROM q),
        wb AS (
            SELECT p.bucket,
                   ln((CAST(COALESCE(q.q_n, 0) AS DOUBLE) + {_D.format("1.0")})
                      / (CAST(qt.q_tot AS DOUBLE) + {_D.format(f"{N_BUCKETS}.0")}))
                 - ln((CAST(p.p_n AS DOUBLE) + {_D.format("1.0")})
                      / (CAST(pt.p_tot AS DOUBLE) + {_D.format(f"{N_BUCKETS}.0")}))
                       AS w
            FROM p LEFT JOIN q USING (bucket), pt, qt
        ),
        sc AS (
            SELECT c.doc_id,
                   CAST(SUM(CAST(floor(
                       CAST(c.n AS DOUBLE) * wb.w * {_D.format("1000000.0")}
                       + {_D.format("0.5")}) AS BIGINT)) AS BIGINT)
                       AS weight_q6
            FROM cnt c JOIN wb USING (bucket)
            GROUP BY 1
        )
        SELECT doc_id, weight_q6,
               CAST(row_number() OVER (ORDER BY weight_q6 DESC, doc_id)
                    AS INT) AS rank
        FROM sc
        QUALIFY rank <= {TOP_K}
    """,
}
