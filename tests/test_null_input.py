"""NULL-injection hardening: the generated testdata carries no NULLs,
so without this sweep none of the registered queries had
ever seen one — while at 100 TB every nullable column WILL hold NULLs
(failed fetches, partial extracts, schema-evolved readers). Inject
NULLs into ~10% of the non-key columns of every table and require every
query to execute.

Found and fixed by this sweep: the multimodal Arrow featurizer crashed
the Python worker on a NULL payload (``len(None)``) — NULL payload/meta
rows now yield NULL features (operators/multimodal.py).
"""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SRC = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: non-key columns to poison per table (keys stay intact: NULL join/id
#: keys are a data-contract violation the validation tier flags, not a
#: robustness case every analytic query must absorb)
NULLABLE = {
    "documents": ["text", "lang", "source", "n_chars"],
    "events": ["event_type", "value", "props", "user_id"],
    "orders": ["o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"],
    "customer": ["c_name", "c_acctbal", "c_mktsegment"],
    "embeddings": ["embedding"],
}


@pytest.fixture(scope="module")
def nulls_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_nulls"))
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        for c in NULLABLE.get(t, []):
            if c in df.columns:
                df = df.withColumn(
                    c,
                    F.when(
                        F.abs(F.hash(F.col(df.columns[0]))) % 10 == 3,
                        F.lit(None),
                    ).otherwise(F.col(c)),
                )
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


QUERIES = entry.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_handles_null_injected_dataset(spark, nulls_dir, name):
    out = QUERIES[name](spark, nulls_dir)
    assert out.columns
    out.take(1)  # must execute without raising


def test_null_payload_yields_null_features(spark):
    """The multimodal regression pin: NULL payload/meta rows come out as
    NULL feature rows, and non-NULL rows are unaffected."""
    from data_pipeline_for_real_time_retail_analytics_spark.operators.multimodal import (
        extract_features,
        sample_frames,
    )

    media = spark.createDataFrame(
        [(1, b"abc", {"width": 2, "height": 3}), (2, None, None)],
        "doc_id long, payload binary, meta map<string,int>",
    )
    rows = {r.doc_id: r for r in extract_features(media).collect()}
    assert rows[1].n_bytes == 3 and rows[1].payload_sha256
    assert rows[1].width == 2 and rows[1].height == 3
    assert rows[2].n_bytes is None and rows[2].payload_sha256 is None
    assert rows[2].width is None and rows[2].height is None
    frames = {r.doc_id: r.frames for r in sample_frames(media).collect()}
    assert frames[1] and frames[2] is None
