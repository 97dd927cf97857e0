"""Distribution-drift queries (operators/drift.py).

``events_value_drift``: per event-type PSI of the ``value``
distribution between the first half of the event window (reference,
ts < 2024-01-16) and the second (current) — the week-over-week "did
the stream move" monitor. Ten fixed-width bins (width 50 over the
generator's 0-490 range); add-one smoothing over the complete domain.

``events_value_ks``: the two-sample Kolmogorov-Smirnov distance over
the same binned windows — the float-free companion statistic: cross-
multiplied integer CDF gaps (DECIMAL(38,0) intermediates, the
join_key_skew discipline), one floor division to ppm at the very end.
Where the PSI weights every bin's divergence, the KS reads the single
worst CDF gap — the pair covers both "diffuse reshaping" and "mass
jumped across a threshold" drift shapes.

``source_length_drift``: per-source PSI of the document-length
(n_chars) distribution against the WHOLE-CORPUS reference — the
domain-shift profile a curation run consults before reweighting a
source mix (a source whose length profile diverges from the corpus is
the first thing a mixture audit looks at). Same fixed binning
discipline (width 64 over the generator's 48-553 range).

Both outputs carry the window sizes next to the statistic so the
usual PSI rules of thumb (<0.1 stable, >0.25 shifted — here in
micro-units: 100_000 / 250_000) can be applied with the sample size
in view.

Scale: one partial-aggregated count pass per query; everything after
the first groupBy is bins × groups rows. The per-group totals join
back broadcast; nothing iterates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.drift import (
    MICRO,
    N_BINS,
    complete_bins,
    fixed_width_bin,
    psi_micro,
)
from ..sources import load_table

#: reference/current boundary — the midpoint of the generator's window
SPLIT_TS = "2024-01-16 00:00:00"
VALUE_BIN_WIDTH = 50.0
NCHARS_BIN_WIDTH = 64.0

#: shared smoothed-probability SQL fragment (c, n as column refs)
def _p_sql(c: str, n: str) -> str:
    return (
        f"(CAST({c} + 1 AS DOUBLE) / CAST({n} + {N_BINS} AS DOUBLE))"
    )


def _addend_sql(c_ref: str, n_ref: str, c_cur: str, n_cur: str) -> str:
    p = _p_sql(c_ref, n_ref)
    q = _p_sql(c_cur, n_cur)
    return (
        f"CAST(ROUND(({p} - {q}) * ln({p} / {q}) "
        "* CAST(1000000.0 AS DOUBLE), 0) AS BIGINT)"
    )


def _event_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete (event_type, bin, c_ref, c_cur) frame for the
    window-vs-window value distribution — the shared input of the PSI
    and KS statistics.

    bins × groups rows after ONE partial-aggregated scan; checkpointed
    because the group domain and the left join both reference it (the
    shared-frames rule — and deriving the domain from the counts keeps
    the query single-scan: every observed group has at least one bin
    row)."""
    ev = load_table(spark, sf_dir, "events")
    is_ref = F.col("ts") < F.lit(SPLIT_TS).cast("timestamp")
    counts = (
        ev.select(
            "event_type",
            fixed_width_bin(F.col("value"), VALUE_BIN_WIDTH).alias("bin"),
            is_ref.cast("int").alias("__ref"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("__ref").cast("long").alias("c_ref"),
            F.sum(1 - F.col("__ref")).cast("long").alias("c_cur"),
        )
        .localCheckpoint()
    )
    groups = counts.select("event_type").distinct()
    return complete_bins(counts, groups, ["event_type"], ["c_ref", "c_cur"])


def q_events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type PSI of value bins, second half vs first half."""
    completed = _event_value_counts(spark, sf_dir)
    return psi_micro(completed, ["event_type"]).orderBy("event_type")


def q_events_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type two-sample Kolmogorov-Smirnov distance over the
    same binned windows — max CDF gap in exact ppm.

    Unlike the PSI there is NO float anywhere: the per-bin CDF gap is
    compared cross-multiplied (|cum_ref·n_cur − cum_cur·n_ref|), the
    max is taken over those exact integers (denominators are constant
    per group, so the argmax is division-free), and the single floor
    division to ppm happens last. Intermediates run in DECIMAL(38,0)
    (the join_key_skew discipline): at the 100 TB design point
    cum ~ 1e14 × n ~ 1e14 = 1e28 exceeds BIGINT but not DECIMAL(38).
    The cumulative window orders 10 bin rows per group — bounded state
    by construction."""
    completed = _event_value_counts(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = completed.select(
        "event_type",
        F.sum("c_ref").over(w).cast("long").alias("cum_ref"),
        F.sum("c_cur").over(w).cast("long").alias("cum_cur"),
    )
    # the cross-multiplied gap needs the group totals, which are the
    # LAST cumulative values — attach them via one more bounded window
    wg = Window.partitionBy("event_type")
    gaps = cum.select(
        "event_type",
        F.max("cum_ref").over(wg).alias("n_ref"),
        F.max("cum_cur").over(wg).alias("n_cur"),
        "cum_ref",
        "cum_cur",
    ).select(
        "event_type",
        "n_ref",
        "n_cur",
        F.expr(
            "abs(CAST(cum_ref AS DECIMAL(38,0)) * n_cur"
            " - CAST(cum_cur AS DECIMAL(38,0)) * n_ref)"
        ).alias("gap"),
    )
    return (
        gaps.groupBy("event_type", "n_ref", "n_cur")
        .agg(F.max("gap").alias("max_gap"))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.expr(
                "CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL ELSE "
                f"CAST((CAST({int(MICRO)} AS DECIMAL(38,0)) * max_gap) DIV "
                "(CAST(n_ref AS DECIMAL(38,0)) * n_cur) AS BIGINT) END"
            ).alias("ks_ppm"),
        )
        .orderBy("event_type")
    )


def q_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI of n_chars bins against the whole corpus."""
    # ONE corpus scan: the (source, bin) count grain is checkpointed and
    # the corpus-wide reference, the per-source current counts, and the
    # source domain all derive from it (bins × sources rows)
    base = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            fixed_width_bin(F.col("n_chars"), NCHARS_BIN_WIDTH).alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c_cur"))
        .localCheckpoint()
    )
    cur = base
    ref = base.groupBy("bin").agg(
        F.sum("c_cur").cast("long").alias("__ref_bin")
    )
    completed = complete_bins(
        cur, base.select("source").distinct(), ["source"], ["c_cur"]
    )
    with_ref = completed.join(F.broadcast(ref), "bin", "left").select(
        "source",
        "bin",
        F.coalesce(F.col("__ref_bin"), F.lit(0)).cast("long").alias("c_ref"),
        "c_cur",
    )
    return psi_micro(with_ref, ["source"]).orderBy("source")


def q_events_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day PSI series of the value distribution — the
    production monitoring shape (a daily batch compares each day to the
    previous one and alerts on the statistic's trajectory, not one
    global split). One (day, bin) count pass → complete-domain frame →
    adjacent-day self-join (bounded: days × bins rows) → the SAME
    ``psi_micro`` aggregation as the window query, keyed on the day.

    Output: (day, n_ref, n_cur, psi_micro) for every day with a
    predecessor, ordered by day; the generator's stationary stream
    should sit far below the 0.1 'stable' line on every row — which is
    itself the useful pin: a monitoring statistic that false-alarms on
    stationary data is unusable."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            fixed_width_bin(F.col("value"), VALUE_BIN_WIDTH).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    completed = complete_bins(
        counts, counts.select("day").distinct(), ["day"], ["c"]
    )
    cur = completed.select("day", "bin", F.col("c").alias("c_cur"))
    prev = completed.select(
        F.date_add(F.col("day"), 1).alias("day"),
        "bin",
        F.col("c").alias("c_ref"),
    )
    paired = cur.join(prev, ["day", "bin"]).select(
        # ISO-string day: engine-portable output (DuckDB surfaces DATE
        # as a timestamp through pandas, which the value gate rejects)
        F.col("day").cast("string").alias("day"),
        "bin",
        "c_ref",
        "c_cur",
    )
    return psi_micro(paired, ["day"]).orderBy("day")


QUERIES = {
    "events_value_drift": q_events_value_drift,
    "events_value_ks": q_events_value_ks,
    "events_daily_drift": q_events_daily_drift,
    "source_length_drift": q_source_length_drift,
}

_BINS_SQL = ", ".join(str(b) for b in range(N_BINS))

#: the completed (event_type, bin, c_ref, c_cur) frame — shared by the
#: PSI and KS oracles exactly as _event_value_counts is engine-side
_EV_FILLED_CTES = rf"""ev AS (
            SELECT event_type,
                   LEAST(CAST(FLOOR(value / {VALUE_BIN_WIDTH}) AS INT),
                         {N_BINS - 1}) AS bin,
                   CASE WHEN ts < TIMESTAMP '{SPLIT_TS}' THEN 1 ELSE 0 END
                       AS is_ref
            FROM events
        ),
        cnt AS (
            SELECT event_type, bin,
                   CAST(SUM(is_ref) AS BIGINT) AS c_ref,
                   CAST(SUM(1 - is_ref) AS BIGINT) AS c_cur
            FROM ev GROUP BY 1, 2
        ),
        dom AS (
            SELECT et.event_type, b.bin
            FROM (SELECT DISTINCT event_type FROM events) et
            CROSS JOIN (SELECT unnest([{_BINS_SQL}]) AS bin) b
        ),
        filled AS (
            SELECT d.event_type, d.bin,
                   COALESCE(c.c_ref, 0) AS c_ref,
                   COALESCE(c.c_cur, 0) AS c_cur
            FROM dom d LEFT JOIN cnt c USING (event_type, bin)
        )"""

ORACLES: dict[str, str] = {
    "events_value_drift": rf"""
        WITH {_EV_FILLED_CTES},
        tot AS (
            SELECT event_type,
                   CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM filled GROUP BY 1
        ),
        addends AS (
            SELECT f.event_type, t.n_ref, t.n_cur,
                   {_addend_sql("f.c_ref", "t.n_ref", "f.c_cur", "t.n_cur")}
                       AS a
            FROM filled f JOIN tot t USING (event_type)
        )
        SELECT event_type, n_ref, n_cur,
               CAST(SUM(a) AS BIGINT) AS psi_micro
        FROM addends GROUP BY 1, 2, 3 ORDER BY event_type
    """,
    "events_value_ks": rf"""
        WITH {_EV_FILLED_CTES},
        cum AS (
            SELECT event_type, bin,
                   CAST(SUM(c_ref) OVER (PARTITION BY event_type
                                         ORDER BY bin) AS BIGINT) AS cum_ref,
                   CAST(SUM(c_cur) OVER (PARTITION BY event_type
                                         ORDER BY bin) AS BIGINT) AS cum_cur
            FROM filled
        ),
        tot AS (
            SELECT event_type,
                   MAX(cum_ref) AS n_ref, MAX(cum_cur) AS n_cur
            FROM cum GROUP BY 1
        ),
        gaps AS (
            SELECT c.event_type, t.n_ref, t.n_cur,
                   abs(CAST(c.cum_ref AS HUGEINT) * t.n_cur
                       - CAST(c.cum_cur AS HUGEINT) * t.n_ref) AS gap
            FROM cum c JOIN tot t USING (event_type)
        )
        SELECT event_type, n_ref, n_cur,
               CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL ELSE
                    CAST((CAST({int(MICRO)} AS HUGEINT) * MAX(gap))
                         // (CAST(n_ref AS HUGEINT) * n_cur) AS BIGINT)
               END AS ks_ppm
        FROM gaps GROUP BY 1, 2, 3 ORDER BY event_type
    """,
    "events_daily_drift": rf"""
        WITH d0 AS (
            SELECT CAST(ts AS DATE) AS day,
                   LEAST(CAST(FLOOR(value / {VALUE_BIN_WIDTH}) AS INT),
                         {N_BINS - 1}) AS bin
            FROM events
        ),
        cnt AS (
            SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS c
            FROM d0 GROUP BY 1, 2
        ),
        dom AS (
            SELECT d.day, b.bin
            FROM (SELECT DISTINCT day FROM cnt) d
            CROSS JOIN (SELECT unnest([{_BINS_SQL}]) AS bin) b
        ),
        filled AS (
            SELECT d.day, d.bin, COALESCE(c.c, 0) AS c
            FROM dom d LEFT JOIN cnt c USING (day, bin)
        ),
        paired AS (
            SELECT cur.day, cur.bin, prev.c AS c_ref, cur.c AS c_cur
            FROM filled cur
            JOIN filled prev
              ON cur.day = prev.day + 1 AND cur.bin = prev.bin
        ),
        tot AS (
            SELECT day,
                   CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM paired GROUP BY 1
        ),
        addends AS (
            SELECT p.day, t.n_ref, t.n_cur,
                   {_addend_sql("p.c_ref", "t.n_ref", "p.c_cur", "t.n_cur")}
                       AS a
            FROM paired p JOIN tot t USING (day)
        )
        SELECT CAST(day AS VARCHAR) AS day, n_ref, n_cur,
               CAST(SUM(a) AS BIGINT) AS psi_micro
        FROM addends GROUP BY 1, 2, 3 ORDER BY day
    """,
    "source_length_drift": rf"""
        WITH d0 AS (
            SELECT source,
                   LEAST(CAST(FLOOR(n_chars / {NCHARS_BIN_WIDTH}) AS INT),
                         {N_BINS - 1}) AS bin
            FROM documents
        ),
        cur AS (
            SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c_cur
            FROM d0 GROUP BY 1, 2
        ),
        ref AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_ref
            FROM d0 GROUP BY 1
        ),
        dom AS (
            SELECT s.source, b.bin
            FROM (SELECT DISTINCT source FROM documents) s
            CROSS JOIN (SELECT unnest([{_BINS_SQL}]) AS bin) b
        ),
        filled AS (
            SELECT d.source, d.bin,
                   COALESCE(r.c_ref, 0) AS c_ref,
                   COALESCE(c.c_cur, 0) AS c_cur
            FROM dom d
            LEFT JOIN cur c USING (source, bin)
            LEFT JOIN ref r USING (bin)
        ),
        tot AS (
            SELECT source,
                   CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM filled GROUP BY 1
        ),
        addends AS (
            SELECT f.source, t.n_ref, t.n_cur,
                   {_addend_sql("f.c_ref", "t.n_ref", "f.c_cur", "t.n_cur")}
                       AS a
            FROM filled f JOIN tot t USING (source)
        )
        SELECT source, n_ref, n_cur, CAST(SUM(a) AS BIGINT) AS psi_micro
        FROM addends GROUP BY 1, 2, 3 ORDER BY source
    """,
}
