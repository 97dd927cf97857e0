"""Grouped-aggregate pandas UDF query, driver-gate-ready (round 8).

Completes the Python-UDF driver coverage: with this, all three Arrow
surfaces carry value-checked driver rows — ``mapInPandas``
(``multimodal_features``), grouped-map ``applyInPandas``
(``user_value_interpolation``, staged alongside this), and the
grouped-AGGREGATE pandas UDF here.

``lang_median_tokens``: per corpus language, the interpolated median
whitespace-token count plus document count. The token count is a JVM
column expression (the shared ws_tokens discipline); only the median
itself runs in the Arrow UDF (functions/udx.py:make_median_udaf) —
the hot per-row work stays in codegen, Python sees one short series
per group. Float parity is structural, not luck: over BIGINT inputs
every interpolated median is an exactly-representable x.0/x.5 double,
identical across numpy, Spark's exact ``percentile`` (the test-pinned
native twin), and DuckDB's ``MEDIAN``.

Scale contract: one partial-aggregatable count + one grouped-agg
shuffle keyed by language; the UDF sees per-language series — bounded
by corpus language count, each series a value column only. No global
sort (the driver comparator row-sorts).

tests/test_udxq.py pins the semantics; driver-identical parity runs in
tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udx import make_count_udaf, make_median_udaf
from ..operators.textstats import ws_tokens
from ..sources import load_table


def q_lang_median_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median token count through the grouped-aggregate
    pandas UDF (module docstring). The doc count rides as a SECOND
    pandas aggregate — Spark forbids mixing grouped-agg pandas UDFs
    with native aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT),
    and a count is fold-order-free so the Arrow path costs nothing in
    parity."""
    docs = load_table(spark, sf_dir, "documents")
    median = make_median_udaf()
    arrow_count = make_count_udaf()

    with_tok = docs.select(
        "lang", F.size(ws_tokens(F.col("text"))).alias("n_tok")
    )
    return with_tok.groupBy("lang").agg(
        median(F.col("n_tok")).alias("median_tokens"),
        arrow_count(F.col("n_tok")).alias("n_docs"),
    )


QUERIES = {
    "lang_median_tokens": q_lang_median_tokens,
}

ORACLES: dict[str, str] = {
    "lang_median_tokens": r"""
        WITH t AS (
            SELECT lang,
                   CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) AS n_tok
            FROM documents
        )
        SELECT lang,
               CAST(MEDIAN(n_tok) AS DOUBLE) AS median_tokens,
               COUNT(*) AS n_docs
        FROM t
        GROUP BY lang
        ORDER BY lang
    """,
}
