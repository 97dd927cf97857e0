"""Operator showcase queries for the driver's correctness gate.

Each function here exercises one operator from SURVEY.md §2 over the
synthetic tables and returns a DataFrame whose columns are aliased to
match its DuckDB oracle in ``ORACLES`` at the bottom of this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import (
    dedup_change_events,
    incremental_read,
    log_cdc_probe,
    timestamp_cdc_probe,
)
from ..operators.quality import (
    fk_orphans,
    whole_row_duplicates,
)
from ..operators.transform import (
    apply_changelog,
    dim_customers,
    fact_orders,
    merge_upsert,
    scd2_history,
    staging_orders,
)
from ..plans.validation import Severity, ValidationEngine, ValidationRule
from ..schemas import DataType, SchemaDefinition
from ..sources import load_table

WATERMARK = "2024-01-04 00:00:00"


# -- CDC ---------------------------------------------------------------------


def q_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: rows strictly after the watermark, predicate pushed to scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        incremental_read(ev, "ts", WATERMARK)
        .select("event_id", "ts", "user_id", "event_type")
        .orderBy("event_id")
    )


def q_cdc_timestamp_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: COUNT(*), MAX(ts) of changed rows in one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return timestamp_cdc_probe(ev, "ts", WATERMARK)


def q_cdc_log_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: changelog probe — events.event_type standing in as the op code."""
    changelog = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("operation"),
        F.col("ts").alias("change_timestamp"),
    )
    return log_cdc_probe(changelog, processed_col=None).orderBy("op_code")


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: suppress repeated (user, type) events within a 60-min window;
    keep the earliest occurrence."""
    ev = load_table(spark, sf_dir, "events")
    return (
        dedup_change_events(ev, ["user_id", "event_type"], "ts")
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("event_id")
    )


# -- integrity / quality -------------------------------------------------------


def q_fk_orphan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/K9: referential integrity — orders whose customer is missing
    (empty on consistent data; the check IS the query)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        fk_orphans(orders, "o_custkey", cust, "c_custkey")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join in the other direction — dimension rows with no facts."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer")
    return (
        fk_orphans(cust, "c_custkey", orders, "o_custkey", broadcast_parent=False)
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_whole_row_dups_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: whole-row duplicate count via count − distinct(struct(*))."""
    return whole_row_duplicates(load_table(spark, sf_dir, "lineitem"))


# -- validation engine ---------------------------------------------------------


def q_validation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F8 + K2-K4 over orders as ONE single-pass aggregate."""
    schema = SchemaDefinition(
        "orders",
        columns={"o_orderkey": DataType.INTEGER, "o_totalprice": DataType.FLOAT},
        required_columns=["o_orderkey", "o_custkey"],
        unique_columns=["o_orderkey"],
        primary_key=["o_orderkey"],
    )
    rules = [
        ValidationRule("price_range", "range", "o_totalprice", Severity.WARNING,
                       {"min": 0, "max": 500000}),
        ValidationRule("status_allowed", "allowed_values", "o_orderstatus",
                       Severity.ERROR, {"values": ["F", "O", "P"]}),
        ValidationRule("priority_pattern", "pattern", "o_orderpriority",
                       Severity.ERROR, {"pattern": r"[1-5]-[A-Z ]+"}),
        ValidationRule("custkey_not_null", "not_null", "o_custkey", Severity.ERROR),
        ValidationRule("no_future_orders", "custom", "o_orderdate", Severity.ERROR,
                       {"function": "future_date", "as_of": "2001-01-01"}),
    ]
    engine = ValidationEngine(schemas={"orders": schema}, rules=rules,
                              enable_profiling=False)
    return engine.compile_plan(load_table(spark, sf_dir, "orders"), "orders")


def q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-A5: numeric + string profile of customer in one aggregate;
    floats rounded so the oracle hash is stable."""
    df = load_table(spark, sf_dir, "customer")
    bal, name = F.col("c_acctbal"), F.col("c_name")
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(bal.isNull(), 1)).alias("bal_null_count"),
        F.count_distinct(bal).alias("bal_unique_count"),
        F.round(F.avg(bal), 4).alias("bal_mean"),
        F.round(F.median(bal), 4).alias("bal_median"),
        F.round(F.stddev_samp(bal), 4).alias("bal_std"),
        F.round(F.min(bal), 2).alias("bal_min"),
        F.round(F.max(bal), 2).alias("bal_max"),
        F.count(F.when(bal == 0, 1)).alias("bal_zero_count"),
        F.count(F.when(bal < 0, 1)).alias("bal_negative_count"),
        F.round(F.avg(F.length(name)), 4).alias("name_avg_length"),
        F.min(F.length(name)).alias("name_min_length"),
        F.max(F.length(name)).alias("name_max_length"),
        F.count(F.when(name == "", 1)).alias("name_empty_count"),
    )


# -- transform layer -----------------------------------------------------------


def q_staging_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # date → timestamp for the oracle: pandas renders Spark DateType as
    # datetime.date but DuckDB dates as Timestamp; timestamps agree.
    return (
        staging_orders(spark, sf_dir)
        .withColumn("order_date", F.col("order_date").cast("timestamp"))
        .orderBy("order_id")
    )


def q_dim_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dim_customers(spark, sf_dir).orderBy("customer_id")


def q_fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fact_orders(spark, sf_dir)
        .withColumn("order_date", F.col("order_date").cast("timestamp"))
        .orderBy("order_id")
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: incremental merge — re-price every 10th order and upsert the
    batch into the existing order set (anti-join + union rewrite)."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.round(F.col("o_totalprice"), 2).alias("total_amount"),
    )
    updates = orders.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.round(F.col("o_totalprice") + 100, 2).alias("total_amount"),
    )
    return merge_upsert(target, updates, ["order_id"]).orderBy("order_id")


_OP_MAP = {"signup": "insert", "purchase": "update", "error": "delete"}


def _balance(c: F.Column) -> F.Column:
    return F.round(c.cast("decimal(12,2)"), 2).cast("double")


def _change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a synthetic CDC stream: signup→insert, purchase→update,
    error→delete; payload = value as the account balance."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*_OP_MAP)
    )
    op = F.create_map(*[F.lit(x) for kv in _OP_MAP.items() for x in kv])
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        op[F.col("event_type")].alias("op"),
        _balance(F.col("value")).alias("balance"),
    )


def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 changelog apply: fold the CDC stream into the customer base
    — last writer per key wins, deletes drop the key
    (operators/transform.py:apply_changelog)."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        _balance(F.col("c_acctbal")).alias("balance"),
    )
    changes = _change_stream(spark, sf_dir)
    return apply_changelog(
        base, changes, ["user_id"], "ts", "op", tiebreak_col="event_id"
    ).orderBy("user_id")


def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension history: one row per balance version per user with
    [valid_from, valid_to) and is_current
    (operators/transform.py:scd2_history)."""
    purchases = _change_stream(spark, sf_dir).where(F.col("op") == "update")
    return scd2_history(
        purchases, ["user_id"], "ts", ["balance"], tiebreak_col="event_id"
    ).orderBy("user_id", "valid_from")


QUERIES = {
    "incremental_scan": q_incremental_scan,
    "cdc_timestamp_probe": q_cdc_timestamp_probe,
    "cdc_log_probe": q_cdc_log_probe,
    "event_dedup": q_event_dedup,
    "fk_orphan_orders": q_fk_orphan_orders,
    "customers_without_orders": q_customers_without_orders,
    "whole_row_dups_lineitem": q_whole_row_dups_lineitem,
    "validation_orders": q_validation_orders,
    "profile_customer": q_profile_customer,
    "staging_orders": q_staging_orders,
    "dim_customers": q_dim_customers,
    "fact_orders": q_fact_orders,
    "merge_upsert": q_merge_upsert,
    "cdc_apply_changes": q_cdc_apply_changes,
    "scd2_user_history": q_scd2_user_history,
}

#: DuckDB twins, same names; float aggregates are ROUNDed exactly as
#: the Spark side rounds them
ORACLES: dict[str, str] = {
    "incremental_scan": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
            FROM events
            WHERE ts > TIMESTAMP '2024-01-04 00:00:00'
            ORDER BY event_id
        """,
    "cdc_timestamp_probe": """
            SELECT COUNT(*) AS change_count,
                   CAST(MAX(ts) AS TIMESTAMP) AS max_ts
            FROM events
            WHERE ts > TIMESTAMP '2024-01-04 00:00:00'
        """,
    "cdc_log_probe": """
            SELECT event_type AS op_code,
                   event_type AS change_type,
                   COUNT(*) AS change_count,
                   CAST(MAX(ts) AS TIMESTAMP) AS max_ts
            FROM events
            GROUP BY event_type
            ORDER BY op_code
        """,
    "event_dedup": """
            SELECT arg_min(event_id, ts) AS event_id, user_id, event_type,
                   CAST(MIN(ts) AS TIMESTAMP) AS ts
            FROM events
            GROUP BY user_id, event_type,
                     time_bucket(INTERVAL 60 MINUTES, CAST(ts AS TIMESTAMP),
                                 TIMESTAMP '1970-01-01 00:00:00')
            ORDER BY event_id
        """,
    "fk_orphan_orders": """
            SELECT o_orderkey, o_custkey FROM orders o
            WHERE NOT EXISTS (
                SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            ORDER BY o_orderkey
        """,
    "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
    "whole_row_dups_lineitem": """
            SELECT (SELECT COUNT(*) FROM lineitem)
                 - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem))
                 AS duplicate_rows
        """,
    "validation_orders": """
            SELECT COUNT(*) AS total_rows,
                   COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_violation__o_orderkey,
                   COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_violation,
                   COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS null_violation__o_orderkey,
                   COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_violation__o_custkey,
                   COUNT(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0 OR o_totalprice > 500000)
                         THEN 1 END) AS rule__price_range,
                   COUNT(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 END) AS rule__status_allowed,
                   COUNT(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^(?:[1-5]-[A-Z ]+)')
                         THEN 1 END) AS rule__priority_pattern,
                   COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS rule__custkey_not_null,
                   COUNT(CASE WHEN o_orderdate IS NOT NULL
                              AND CAST(o_orderdate AS DATE) > DATE '2001-01-01'
                         THEN 1 END) AS rule__no_future_orders,
                   COUNT(CASE WHEN o_orderkey IS NOT NULL
                              AND TRY_CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) IS NULL
                         THEN 1 END) AS type_invalid__o_orderkey,
                   COUNT(CASE WHEN o_totalprice IS NOT NULL
                              AND TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) IS NULL
                         THEN 1 END) AS type_invalid__o_totalprice
            FROM orders
        """,
    "profile_customer": """
            SELECT COUNT(*) AS total_rows,
                   COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END) AS bal_null_count,
                   COUNT(DISTINCT c_acctbal) AS bal_unique_count,
                   ROUND(AVG(c_acctbal), 4) AS bal_mean,
                   ROUND(MEDIAN(c_acctbal), 4) AS bal_median,
                   ROUND(STDDEV_SAMP(c_acctbal), 4) AS bal_std,
                   ROUND(MIN(c_acctbal), 2) AS bal_min,
                   ROUND(MAX(c_acctbal), 2) AS bal_max,
                   COUNT(CASE WHEN c_acctbal = 0 THEN 1 END) AS bal_zero_count,
                   COUNT(CASE WHEN c_acctbal < 0 THEN 1 END) AS bal_negative_count,
                   ROUND(AVG(LENGTH(c_name)), 4) AS name_avg_length,
                   MIN(LENGTH(c_name)) AS name_min_length,
                   MAX(LENGTH(c_name)) AS name_max_length,
                   COUNT(CASE WHEN c_name = '' THEN 1 END) AS name_empty_count
            FROM customer
        """,
    "staging_orders": """
            SELECT o_orderkey AS order_id, o_custkey AS customer_id,
                   o_orderstatus AS order_status,
                   ROUND(o_totalprice, 2) AS total_amount,
                   CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date,
                   o_orderpriority AS order_priority
            FROM orders WHERE o_totalprice >= 0
            ORDER BY order_id
        """,
    "dim_customers": """
            SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
                   c.c_mktsegment AS market_segment,
                   ROUND(c.c_acctbal, 2) AS account_balance,
                   n.n_name AS nation, r.r_name AS region
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            ORDER BY customer_id
        """,
    "fact_orders": """
            SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
                   o.o_orderstatus AS order_status,
                   ROUND(o.o_totalprice, 2) AS total_amount,
                   CAST(o.o_orderdate AS DATE) AS order_date,
                   o.o_orderpriority AS order_priority,
                   li.net_revenue, li.n_lineitems,
                   c.c_mktsegment AS market_segment,
                   n.n_name AS nation, r.r_name AS region
            FROM orders o
            LEFT JOIN (
                SELECT l_orderkey,
                       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                                      * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                            AS DOUBLE) AS net_revenue,
                       COUNT(*) AS n_lineitems
                FROM lineitem GROUP BY l_orderkey
            ) li ON li.l_orderkey = o.o_orderkey
            LEFT JOIN customer c ON c.c_custkey = o.o_custkey
            LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
            LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE o.o_totalprice >= 0
            ORDER BY order_id
        """,
    "merge_upsert": """
            SELECT o_orderkey AS order_id,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN ROUND(o_totalprice + 100, 2)
                        ELSE ROUND(o_totalprice, 2) END AS total_amount
            FROM orders
            ORDER BY order_id
        """,
    "cdc_apply_changes": """
            WITH base AS (
                SELECT c_custkey AS user_id,
                       CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE)
                           AS balance
                FROM customer
            ),
            changes AS (
                SELECT user_id, ts, event_id,
                       CASE event_type WHEN 'signup' THEN 'insert'
                                       WHEN 'purchase' THEN 'update'
                                       ELSE 'delete' END AS op,
                       CAST(ROUND(CAST(value AS DECIMAL(12,2)), 2) AS DOUBLE)
                           AS balance
                FROM events
                WHERE event_type IN ('signup', 'purchase', 'error')
            ),
            latest AS (
                SELECT * FROM changes
                QUALIFY row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) = 1
            )
            SELECT user_id, balance FROM base
            WHERE user_id NOT IN (SELECT user_id FROM latest)
            UNION ALL
            SELECT user_id, balance FROM latest WHERE op <> 'delete'
            ORDER BY user_id
        """,
    "scd2_user_history": """
            WITH ch AS (
                SELECT user_id, ts, event_id,
                       CAST(ROUND(CAST(value AS DECIMAL(12,2)), 2) AS DOUBLE)
                           AS balance
                FROM events WHERE event_type = 'purchase'
            )
            SELECT user_id,
                   CAST(ts AS TIMESTAMP) AS valid_from,
                   CAST(COALESCE(LEAD(ts) OVER w,
                                 TIMESTAMP '2200-01-01 00:00:00') AS TIMESTAMP)
                       AS valid_to,
                   LEAD(ts) OVER w IS NULL AS is_current,
                   balance
            FROM ch
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, valid_from
        """,
}
