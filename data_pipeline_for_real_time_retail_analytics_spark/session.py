"""SparkSession factory for the engine.

The reference executes everything single-process in pandas
(reference: src/interfaces/base.py:85-87); our engine replaces that with a
SparkSession tuned for the target: columnar parquet scans, AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone so
results are oracle-comparable, and Arrow for any pandas-UDF exchange.

At 100 TB the same code runs on a real cluster: the only local-mode
specifics here are ``master`` and ``shuffle.partitions`` defaults, both
overridable via env vars.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "retail_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are scale-aware: AQE enabled so the 32-partition local default
    coalesces small shuffles and splits skewed ones; on a 1000-executor
    cluster the caller passes ``shuffle_partitions`` sized to the data
    (or relies on AQE's initial-partition heuristics).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (the testdata events.ts) reads as long
        # nanoseconds instead of failing; sources.load_table converts it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
