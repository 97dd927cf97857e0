"""Driver contract: the query registry and its DuckDB oracles.

``entry(spark)`` smoke-runs the flagship query at sf0.001.
``queries()`` maps query name → (spark, sf_dir) → DataFrame.
``oracle_sql()`` maps the same names → equivalent DuckDB SQL.
Column names/aliases match between both sides (the driver hashes values
after sorting columns by name).

Every plan module in ``_MODULES`` exports a ``QUERIES`` dict and an
``ORACLES`` dict over the same names; both registries are the union of
those dicts, and a name defined by two modules is an error. Registering
a query means adding both dict entries in its plan module (and the
module here if it is new). The dicts are unordered as far as the
contract goes: callers select by name.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from importlib import import_module
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_for_real_time_retail_analytics_spark.plans import analytics as A

_PLANS = "data_pipeline_for_real_time_retail_analytics_spark.plans"

_MODULES: tuple[ModuleType, ...] = tuple(
    import_module(f"{_PLANS}.{name}")
    for name in (
        "analytics", "analytics2", "analytics3", "analytics4", "annevalq",
        "approxq", "asofq", "audienceq", "behavior", "bloomdedupq", "bpeq",
        "ccnetq", "chunkdedupq", "cleanq", "clusterstatq", "cmsq",
        "containmentq", "contamq", "crossdupq", "curation", "cusumq",
        "dedupevalq", "driftq", "dsirq", "embdriftq", "exportq", "funnelq",
        "fuzzyq", "hardnegq", "hilbertq", "incannq", "ivfpqq", "kmvq",
        "langquotaq", "lenbucketq", "llm", "markovq", "outlierq", "pagerankq",
        "pairsimq", "phraseq", "pmiq", "pqq", "prioritysampleq", "profiling",
        "rangejoinq", "resampleq", "scaleops", "searchq", "semdedupq",
        "sessionattrq", "showcase", "sketchq", "skewq", "snapshotq", "splitsq",
        "sqq", "streamattrq", "streamcmsq", "streamdriftq", "streamkmvq",
        "streamq", "streamq2", "streamq3", "temporal", "training", "training2",
        "trendq", "trianglesq", "udxq", "wpagerankq", "zonemapq", "zorderq",
    )
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return A.revenue_by_segment(spark, "/root/testdata/sf0.001")


def merge_registry(modules: Iterable[ModuleType], attr: str) -> dict:
    """Union of ``module.<attr>`` over ``modules``; raises ValueError
    when two modules define the same name."""
    merged: dict = {}
    owner: dict[str, str] = {}
    for mod in modules:
        for name, value in getattr(mod, attr).items():
            if name in merged:
                raise ValueError(
                    f"{attr} name {name!r} is defined by both "
                    f"{owner[name]} and {mod.__name__}"
                )
            merged[name] = value
            owner[name] = mod.__name__
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return merge_registry(_MODULES, "QUERIES")


def oracle_sql() -> dict[str, str]:
    return merge_registry(_MODULES, "ORACLES")
