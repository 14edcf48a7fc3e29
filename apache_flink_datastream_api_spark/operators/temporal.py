"""Temporal join operators over ``events`` (driver-mandated extension
beyond the reference surface; the reference's only join is the windowed
equi-join at ``chapter3/WindowJoins.java:110-144``, already covered by
``j1_window_join``).

Spark has no native AS-OF or interval join, so these are compositions of
built-in operators chosen for their 100 TB shape:

- as-of join     union-tag both sides and take a running ``last(...,
                 ignorenulls)`` over one window partitioned by the key.
                 ONE shuffle on the key, zero join blow-up: the classic
                 join-then-rank formulation materializes |purchases| ×
                 |prior clicks| intermediate rows (quadratic per hot key),
                 while this is strictly linear in input size. This is the
                 pattern to keep at scale.
- interval join  equi-join on the key plus a range predicate. Catalyst
                 plans a hash join on the equality key and evaluates the
                 range as a post-join filter, so it never degenerates to
                 the cartesian a pure range condition would cost. At
                 100 TB, bucket both sides by (key, coarse time bucket).
- quantiles      exact linear-interpolation percentiles (Spark
                 ``percentile`` ≡ DuckDB ``quantile_cont``), map-side
                 partial agg per group.
- pivot          ``groupBy().pivot(values=...)`` with the value list
                 pinned: one shuffle, no extra distinct-values job, fixed
                 output schema (at scale an unpinned pivot is an extra
                 full scan plus an unbounded-width schema hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import QuerySpec
from ..sources.tables import load_table, temp_view

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --- as-of join: each purchase ↔ latest click at or before it --------------

def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the same user's most recent click with
    click.ts <= purchase.ts (NULLs when the user never clicked before).

    Single-shuffle union pattern: tag clicks 0 / purchases 1, sort within
    user by (ts, tag) so a same-instant click sorts first (inclusive
    as-of), and carry the last non-null click forward.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    tagged = base.select(
        "*",
        F.when(F.col("is_purchase") == 0, F.col("event_id")).alias("click_id"),
        F.when(F.col("is_purchase") == 0, F.col("ts_ms")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.select(
            "user_id", "ts_ms", "event_id", "is_purchase",
            F.last("click_id", ignorenulls=True).over(w).alias("asof_click_id"),
            F.last("click_ts", ignorenulls=True).over(w).alias("asof_click_ts_ms"),
        )
        .where(F.col("is_purchase") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_ms").alias("purchase_ts_ms"),
            "asof_click_id",
            "asof_click_ts_ms",
            (F.col("ts_ms") - F.col("asof_click_ts_ms")).alias("gap_ms"),
        )
    )


# Oracle: DuckDB's native ASOF LEFT JOIN (greatest c.ts with p.ts >= c.ts).
ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_ms(p.ts) AS purchase_ts_ms,
       c.event_id AS asof_click_id,
       epoch_ms(c.ts) AS asof_click_ts_ms,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- interval (range) join: errors in the hour before each purchase --------

RANGE_MS = 3_600_000


def range_join_purchase_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count error events by the same user in [purchase.ts - 1h,
    purchase.ts). Hash equi-join on user_id; the time range is a residual
    filter, not the join condition."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("purchase_ts_ms"),
    )
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("err_user"), F.unix_millis("ts").alias("err_ts_ms")
    )
    joined = purch.join(
        err,
        (F.col("user_id") == F.col("err_user"))
        & (F.col("err_ts_ms") >= F.col("purchase_ts_ms") - RANGE_MS)
        & (F.col("err_ts_ms") < F.col("purchase_ts_ms")),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id", "purchase_ts_ms").agg(
        F.count("err_ts_ms").alias("n_errors")
    )


RANGE_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_ms(p.ts) AS purchase_ts_ms,
       COUNT(e.ts) AS n_errors
FROM events p LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.event_type = 'error'
 AND epoch_ms(e.ts) >= epoch_ms(p.ts) - {RANGE_MS}
 AND epoch_ms(e.ts) < epoch_ms(p.ts)
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, 3
"""


# --- exact percentiles per group -------------------------------------------

def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p90 of value per event_type. Spark's ``percentile``
    and DuckDB's ``quantile_cont`` share linear-interpolation semantics;
    round(6) absorbs last-ulp arithmetic differences. At 100 TB swap for
    ``approx_percentile`` (t-digest sketch, map-side combinable) — same
    plan shape, bounded memory."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


QUANTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY 1
"""


# --- moving aggregate over an explicit row frame ---------------------------

def user_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 5-event moving sum/average of value, ordered by event
    time. The frame sum goes through DECIMAL so both engines accumulate
    exactly (sliding-window float subtraction/segment-tree strategies
    differ between engines); the average is one double division at the
    end. One shuffle on user_id; the sort rides the same exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rowsBetween(-4, Window.currentRow)
    )
    base = ev.select(
        "user_id", F.unix_millis("ts").alias("ts_ms"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return base.select(
        "user_id", "ts_ms",
        F.sum("v").over(w).cast("double").alias("msum5"),
        (F.sum("v").over(w).cast("double") / F.count("*").over(w)).alias("mavg5"),
    )


MOVING_AVG_ORACLE = """
WITH base AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, CAST(value AS DECIMAL(18,6)) AS v
  FROM events
)
SELECT user_id, ts_ms,
       CAST(SUM(v) OVER w AS DOUBLE) AS msum5,
       CAST(SUM(v) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS mavg5
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# --- pivot: per-user event-type count matrix -------------------------------

def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


PIVOT_ORACLE = "SELECT user_id, " + ", ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in EVENT_TYPES
) + " FROM events GROUP BY 1"


# --- metric-matrix transpose (Spark 4 df.transpose) --------------------------
# The report-shaping complement of pivot: pivot turns VALUES into columns;
# transpose flips a whole (metric x group) aggregate so metrics become the
# rows — the classic dashboard "one column per segment" readout. The input
# is an already-aggregated |event_types|-row frame, so the transpose is a
# driver-scale reshape of a rollup, never of raw data (transpose collects
# the index column to name the output columns — only ever apply it to
# aggregate matrices, the same boundedness rule as collect()ing a rollup).
# All cells share one type (BIGINT) as transpose requires.

def q_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("max_cents"),
        )
        .orderBy("event_type")
    )
    return agg.transpose()


Q_TRANSPOSE_ORACLE = (
    "WITH a AS (SELECT event_type, COUNT(*) AS n_events, "
    "COUNT(DISTINCT user_id) AS n_users, "
    "MAX(CAST(round(value * 100) AS BIGINT)) AS max_cents "
    "FROM events GROUP BY 1)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{m}' AS key, "
        + ", ".join(
            f"(SELECT {m} FROM a WHERE event_type = '{t}') AS {t}"
            for t in EVENT_TYPES
        )
        for m in ("n_events", "n_users", "max_cents")
    )
)


SPECS = [
    QuerySpec("asof_join_purchase_click", asof_purchase_click, ASOF_ORACLE,
              "as-of join via single-shuffle union+last_value", ("temporal", "join")),
    QuerySpec("range_join_purchase_errors", range_join_purchase_errors, RANGE_ORACLE,
              "interval join: errors in the hour before each purchase", ("temporal", "join")),
    QuerySpec("event_value_quantiles", event_value_quantiles, QUANTILES_ORACLE,
              "exact linear-interpolation percentiles per group", ("agg",)),
    QuerySpec("event_type_pivot", event_type_pivot, PIVOT_ORACLE,
              "pinned-values pivot count matrix", ("agg",)),
    QuerySpec("q_transpose_metrics", q_transpose_metrics, Q_TRANSPOSE_ORACLE,
              "metric-matrix transpose of a per-type rollup (df.transpose)",
              ("agg", "spark4")),
    QuerySpec("user_moving_avg", user_moving_avg, MOVING_AVG_ORACLE,
              "5-event moving sum/avg over an explicit row frame", ("window",)),
]


# --- event analytics: sessionize / funnel / cohort --------------------------
# The batch forms of the reference's session logic (SURVEY.md §2.8 X2,
# §2.5 W4) generalized into the three classic event-analytics shapes.
# All arithmetic is integer (epoch-ms, counts, day offsets) — exact on
# both engines. One shuffle each (partition/group by user), then tiny
# second-level aggregations.

SESSION_GAP_MS = 2 * 3600 * 1000


def q_user_sessions_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to the
    previous event exceeds SESSION_GAP_MS; session_id = running count of
    session starts (lag + cumulative sum — the declarative form of the
    reference's ValueState session tracker)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ms").over(w_ord).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w_ord) > SESSION_GAP_MS),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_ms").alias("session_start_ms"),
        F.max("ts_ms").alias("session_end_ms"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
    )


Q_SESSIONS_GAP_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sessions AS (
  SELECT user_id, ts_ms,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
       MAX(ts_ms) - MIN(ts_ms) AS duration_ms
FROM sessions GROUP BY user_id, session_id
"""


def q_user_sessions_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same gap sessionizer as a Python UDTF consuming
    ``TABLE(...) PARTITION BY user_id ORDER BY (ts_ms, event_id)`` — the
    Spark 4 surface for custom table-valued operators (one instance per
    key, ordered eval, terminate flush: Flink's keyed-operator lifecycle
    on the batch engine). The declarative lag+cumsum form above is the
    production path; this pins the UDTF engine contract against the same
    oracle semantics."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id")
    with temp_view(events, "events_sessions_udtf") as view:
        return spark.sql(
            f"SELECT * FROM gap_sessionize(TABLE({view}) "
            "PARTITION BY user_id ORDER BY (ts_ms, event_id))"
        )


Q_SESSIONS_UDTF_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sessions AS (
  SELECT user_id, ts_ms,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


def q_funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: each user's first view, their first purchase at or
    after it, and the conversion lag. Aggregate-then-join keeps both
    sides one-row-per-user before the (broadcastable) join."""
    e = load_table(spark, sf_dir, "events")
    first_view = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_millis("ts")).alias("first_view_ms"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_millis("ts").alias("p_ms")
    )
    conv = (
        first_view.join(purchases, "user_id", "left")
        .where(F.col("p_ms").isNull() | (F.col("p_ms") >= F.col("first_view_ms")))
        .groupBy("user_id", "first_view_ms")
        .agg(F.min("p_ms").alias("first_purchase_ms"))
    )
    return conv.select(
        "user_id",
        "first_view_ms",
        "first_purchase_ms",
        F.when(F.col("first_purchase_ms").isNotNull(), 1).otherwise(0).alias("converted"),
        (F.col("first_purchase_ms") - F.col("first_view_ms")).alias("ms_to_convert"),
    )


Q_FUNNEL_ORACLE = """
WITH first_view AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS first_view_ms
  FROM events WHERE event_type = 'view' GROUP BY user_id
), conv AS (
  SELECT f.user_id, f.first_view_ms, MIN(epoch_ms(p.ts)) AS first_purchase_ms
  FROM first_view f
  LEFT JOIN events p
    ON p.user_id = f.user_id AND p.event_type = 'purchase'
   AND epoch_ms(p.ts) >= f.first_view_ms
  GROUP BY f.user_id, f.first_view_ms
)
SELECT user_id, first_view_ms, first_purchase_ms,
       CASE WHEN first_purchase_ms IS NOT NULL THEN 1 ELSE 0 END AS converted,
       first_purchase_ms - first_view_ms AS ms_to_convert
FROM conv
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each later active day. Both sides of the join are already hash-
    partitioned on user_id (days' distinct, cohorts' groupBy), so the join
    reuses that partitioning with no extra exchange. Deliberately NOT
    broadcast: cohorts is one row per user — unbounded at scale — and AQE
    will still pick a broadcast locally when it measures the side as tiny."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.date_trunc("DAY", "ts").alias("day")).distinct()
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohorts, "user_id")
        .groupBy(
            F.unix_millis("cohort_day").alias("cohort_day_ms"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


Q_COHORT_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT epoch_ms(cohort_day) AS cohort_day_ms,
       datediff('day', cohort_day, day) AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM days d JOIN cohorts c ON d.user_id = c.user_id
GROUP BY 1, 2
"""


SPECS += [
    QuerySpec("q_user_sessions_gap", q_user_sessions_gap, Q_SESSIONS_GAP_ORACLE,
              "gap-based sessionization via lag + cumulative sum",
              ("temporal", "window")),
    QuerySpec("q_user_sessions_udtf", q_user_sessions_udtf,
              Q_SESSIONS_UDTF_ORACLE,
              "the same sessionizer as a Python UDTF over "
              "TABLE(...) PARTITION BY ... ORDER BY (Spark 4 API surface)",
              ("temporal", "udtf", "spark4")),
    QuerySpec("q_funnel_view_purchase", q_funnel_view_purchase, Q_FUNNEL_ORACLE,
              "two-step funnel conversion with aggregate-then-join",
              ("temporal", "join")),
    QuerySpec("q_cohort_retention", q_cohort_retention, Q_COHORT_ORACLE,
              "cohort retention triangle, exchange-reusing double aggregate",
              ("temporal",)),
]


# --- OHLC bars (time-series downsampling) -----------------------------------
# Open/high/low/close per (event_type, hour) — the classic tick→bar
# downsample. Open/close are argmin/argmax by (ts, event_id) — an EXPLICIT
# portable tie-break, since ts has duplicates and engine-native first()/
# arg_max() tie behavior differs. Plan shape: ONE shuffle on the bar key
# (window partitioning), both row_number passes and the final groupBy
# reuse that partitioning (two in-partition sorts, zero extra exchanges) —
# at 100 TB this is a single repartition of the tick stream, and values
# pass through un-accumulated so doubles stay exact.

def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(floor(unix_millis(ts) / 3600000) AS BIGINT) * 3600000 AS hour_ms",
        "unix_millis(ts) AS ts_ms",
        "event_id",
        "value",
    )
    keys = ("event_type", "hour_ms")
    asc = Window.partitionBy(*keys).orderBy(F.asc("ts_ms"), F.asc("event_id"))
    desc = Window.partitionBy(*keys).orderBy(F.desc("ts_ms"), F.desc("event_id"))
    return (
        ev.select(
            "*",
            F.row_number().over(asc).alias("rn_a"),
            F.row_number().over(desc).alias("rn_d"),
        )
        .groupBy(*keys)
        .agg(
            F.max(F.expr("CASE WHEN rn_a = 1 THEN value END")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.expr("CASE WHEN rn_d = 1 THEN value END")).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


Q_OHLC_ORACLE = """
WITH t AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS hour_ms,
         epoch_ms(ts) AS ts_ms, event_id, value
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_ms ORDER BY ts_ms, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_ms ORDER BY ts_ms DESC, event_id DESC) AS rn_d
  FROM t
)
SELECT event_type, hour_ms,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events
FROM r GROUP BY event_type, hour_ms
"""


SPECS += [
    QuerySpec("q_ohlc_bars", q_ohlc_bars, Q_OHLC_ORACLE,
              "tick-to-bar OHLC downsampling, one-shuffle argmin/argmax",
              ("temporal", "timeseries")),
]


# --- SCD2 versioned dimension build ------------------------------------------
# CDC-style change capture: collapse each user's event history into
# versioned (state, valid_from, valid_to] rows — a new version whenever
# event_type changes, valid_to = next version's start - 1 (open version:
# -1 sentinel). All integer epoch-ms arithmetic; lag/lead share ONE
# shuffle+sort on user. The classic "build a slowly-changing dimension
# from a change log" op — at 100 TB it's one repartition of the log.

def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.row_number().over(w2).alias("version"),
        F.col("ts_ms").alias("valid_from_ms"),
        F.coalesce(F.lead("ts_ms").over(w2) - 1, F.lit(-1)).alias("valid_to_ms"),
    )


Q_SCD2_ORACLE = """
WITH log AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts_ms, event_id FROM log
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS state,
       ROW_NUMBER() OVER w AS version,
       ts_ms AS valid_from_ms,
       COALESCE(lead(ts_ms) OVER w - 1, -1) AS valid_to_ms
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
"""


SPECS += [
    QuerySpec("q_scd2_user_state", q_scd2_user_state, Q_SCD2_ORACLE,
              "SCD2 dimension from a change log: versions + validity intervals",
              ("temporal", "cdc")),
]


# --- LOCF forward fill: daily carried-forward value per user ----------------
# Time-series gap filling (last observation carried forward) — the shape
# behind "daily balance of every account from sparse transactions". No
# reference file:line (driver-mandated extension; the reference's only
# temporal state is the X1/X2 ValueState machines).
#
# Scale shape: everything rides ONE hash exchange on user_id. The
# last-event-of-day reduction and the carry-forward range are both
# expressed as lead() over the SAME window spec (partitionBy user_id,
# orderBy ts), so Catalyst plans one Exchange + one Sort and evaluates
# the second window on the filtered rows without re-shuffling or
# re-sorting. The fill itself is a generator expression (sequence +
# explode) — linear in output days, no join against a calendar spine and
# no second scan of events. The final per-day rollup shuffles only
# |users|·|days| small rows. At 100 TB the same plan holds: the
# expensive exchange is on the natural key, the explode runs map-side.


def ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar day: how many users have a carried-forward value and
    the exact total of those values in integer cents. A user's value on
    day D is the value of their last event at or before D (within their
    active range [first event day, last event day])."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    base = ev.select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.col("ts").cast("date").alias("d"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    # Last event of each (user, day): the row whose successor falls on a
    # later day. Single window spec — no (user_id, d) re-partition.
    day_last = base.withColumn("next_d", F.lead("d").over(w)).where(
        F.col("next_d").isNull() | (F.col("next_d") != F.col("d"))
    )
    # Each surviving row carries its value through the day before the
    # user's next observed day (or just its own day for the last row).
    ranges = day_last.withColumn("nd", F.lead("d").over(w))
    filled = ranges.select(
        "user_id",
        "cents",
        F.explode(
            F.expr("sequence(d, coalesce(nd - interval 1 day, d), interval 1 day)")
        ).alias("day"),
    )
    return (
        filled.groupBy("day")
        .agg(F.count("*").alias("n_users"), F.sum("cents").alias("total_cents"))
        .select(
            F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"),
            "n_users",
            "total_cents",
        )
    )


TS_FORWARD_FILL_ORACLE = """
WITH base AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), ordered AS (
  SELECT *, lead(d) OVER w AS next_d FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), day_last AS (
  SELECT * FROM ordered WHERE next_d IS NULL OR next_d <> d
), ranges AS (
  SELECT user_id, cents, d, lead(d) OVER w AS nd FROM day_last
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), filled AS (
  SELECT user_id, cents,
         unnest(generate_series(CAST(d AS TIMESTAMP),
                                CAST(COALESCE(nd - INTERVAL 1 DAY, d) AS TIMESTAMP),
                                INTERVAL 1 DAY)) AS day
  FROM ranges
)
SELECT epoch_ms(day) AS day_ms, COUNT(*) AS n_users, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM filled GROUP BY 1
"""


# --- trailing-window anomaly flags (integer-exact) --------------------------
# Streaming-monitoring shape: flag events whose value exceeds 3x the mean
# of the user's previous <=20 events. The comparison is cross-multiplied
# (cents * cnt > 3 * sum) so both engines decide each flag in exact
# 64-bit integer arithmetic — no float mean, no tolerance. Bounded ROWS
# frame => O(1) state per row in the window operator; one exchange on
# user_id; the per-user rollup reuses the same partitioning (no second
# shuffle of the big side).

ANOMALY_FRAME = 20
ANOMALY_MIN_PRIOR = 5
ANOMALY_FACTOR = 3


def q_anomaly_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: total events and how many were trailing-window anomalies
    (value > ANOMALY_FACTOR x trailing mean, given >= ANOMALY_MIN_PRIOR
    prior events in the frame)."""
    ev = load_table(spark, sf_dir, "events")
    wt = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(-ANOMALY_FRAME, -1)
    )
    base = ev.select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    flagged = base.select(
        "user_id",
        (
            (F.count("*").over(wt) >= ANOMALY_MIN_PRIOR)
            & (F.col("cents") * F.count("*").over(wt)
               > ANOMALY_FACTOR * F.sum("cents").over(wt))
        ).cast("int").alias("flag"),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("flag").alias("n_anomalies")
    )


Q_ANOMALY_ORACLE = f"""
WITH base AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), t AS (
  SELECT user_id, cents, SUM(cents) OVER w AS tsum, COUNT(*) OVER w AS tcnt
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN {ANOMALY_FRAME} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN tcnt >= {ANOMALY_MIN_PRIOR}
                 AND cents * tcnt > {ANOMALY_FACTOR} * tsum
            THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM t GROUP BY 1
"""


SPECS += [
    QuerySpec("ts_forward_fill", ts_forward_fill, TS_FORWARD_FILL_ORACLE,
              "LOCF gap fill: daily carried-forward per-user value, one shuffle",
              ("temporal", "timeseries")),
    QuerySpec("q_anomaly_trailing", q_anomaly_trailing, Q_ANOMALY_ORACLE,
              "integer-exact trailing-window anomaly flags per user",
              ("temporal", "timeseries")),
]


# --- sweep-line session concurrency -----------------------------------------
# "How many sessions were open at once, per day" — the interval-overlap
# maximum, the ops-analytics shape behind peak-load and license-seat
# questions. Sessions come from the same gap logic as
# q_user_sessions_gap; each becomes a +1 boundary at start and a -1 at
# end+1, and the concurrency curve is the running sum of boundaries in
# global (ts, delta, user_id) order. The global prefix sum is NOT one
# unpartitioned window: boundaries shard by DAY (floor(ts/day) is
# monotone in ts, so day order == time order), cumsum within each day,
# and the per-day totals — driver-scale — cumsum once and broadcast back
# as day bases. Same two-pass machinery as pipeline_pack_sequences /
# q_revenue_gini, keyed by time instead of id/value. Ties are totally
# ordered (delta −1 sorts before +1, user_id breaks the rest), so both
# engines walk the identical sequence.

CONC_DAY_MS = 86_400_000


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: peak number of concurrently-open sessions and the number
    of session boundaries processed."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ms").over(w_ord).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w_ord) > SESSION_GAP_MS),
            1,
        ).otherwise(0),
    )
    sess = (
        flagged.withColumn(
            "session_id",
            F.sum("is_new").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts_ms").alias("s"), F.max("ts_ms").alias("e"))
    )
    bounds = sess.selectExpr(
        "user_id", "s AS ts", "CAST(1 AS BIGINT) AS delta"
    ).unionByName(
        sess.selectExpr("user_id", "e + 1 AS ts", "CAST(-1 AS BIGINT) AS delta")
    )
    sharded = bounds.selectExpr(
        "user_id", "ts", "delta",
        f"CAST(floor(ts / {CONC_DAY_MS}) AS BIGINT) AS day",
    )
    in_day = (
        Window.partitionBy("day")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.withColumn("run_local", F.sum("delta").over(in_day))
    day_w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        sharded.groupBy("day").agg(F.sum("delta").alias("d"))
        .withColumn("base", F.coalesce(F.sum("d").over(day_w), F.lit(0)))
        .select("day", "base")
    )
    return (
        local.join(F.broadcast(bases), "day")
        .selectExpr("day", "base + run_local AS run")
        .groupBy("day")
        .agg(
            F.max("run").alias("max_concurrent"),
            F.count("*").alias("n_boundaries"),
        )
        .selectExpr(f"day * {CONC_DAY_MS} AS day_ms", "max_concurrent", "n_boundaries")
    )


Q_CONCURRENCY_ORACLE = f"""
WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events),
flagged AS (
  SELECT user_id, ts_ms, event_id,
         CASE WHEN lag(ts_ms) OVER w IS NULL
                OR ts_ms - lag(ts_ms) OVER w > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
  SELECT user_id, MIN(ts_ms) AS s, MAX(ts_ms) AS e FROM (
    SELECT user_id, ts_ms,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged) GROUP BY user_id, session_id
), bounds AS (
  SELECT user_id, s AS ts, CAST(1 AS BIGINT) AS delta FROM sess
  UNION ALL
  SELECT user_id, e + 1 AS ts, CAST(-1 AS BIGINT) AS delta FROM sess
), run AS (
  SELECT CAST(floor(ts / {CONC_DAY_MS}) AS BIGINT) AS day,
         SUM(delta) OVER (ORDER BY ts, delta, user_id ROWS UNBOUNDED PRECEDING) AS run
  FROM bounds
)
SELECT day * {CONC_DAY_MS} AS day_ms, CAST(MAX(run) AS BIGINT) AS max_concurrent,
       COUNT(*) AS n_boundaries
FROM run GROUP BY 1
"""


SPECS += [
    QuerySpec("q_session_concurrency", q_session_concurrency, Q_CONCURRENCY_ORACLE,
              "peak concurrent sessions per day via sharded sweep-line prefix sum",
              ("temporal", "timeseries")),
]


# --- snapshot diff (lakehouse table-version reconciliation) -----------------
# Classify every key across two table versions as added / removed /
# changed / unchanged — the audit behind incremental publishes and CDC
# backfills. ONE full-outer equi-join on the key, NULL-side tests for
# presence, column compare for change; Catalyst shuffles both sides by
# key once and the classification is map-side. At 100 TB both snapshots
# are key-bucketed on disk and the join is zero-exchange (see
# bucketed_join_roundtrip for the pinned plan). The two "versions" here
# are deterministic derivations of the driver's orders table (a later
# cutoff + a simulated price correction + an archival purge) so the
# oracle regenerates them exactly.

SNAP_CUT1 = "1997-06-01"
SNAP_CUT2 = "1997-09-01"
SNAP_ARCHIVE = "1995-06-01"


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counts per change class between snapshot v1 (orders before
    SNAP_CUT1) and v2 (orders before SNAP_CUT2, price-corrected for 'P'
    status, 'F' orders older than SNAP_ARCHIVE purged)."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.where(F.col("o_orderdate") < F.lit(SNAP_CUT1)).selectExpr(
        "o_orderkey", "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    v2 = o.where(
        (F.col("o_orderdate") < F.lit(SNAP_CUT2))
        & ~(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") < F.lit(SNAP_ARCHIVE))
        )
    ).selectExpr(
        "o_orderkey", "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT)"
        " + CASE WHEN o_orderstatus = 'P' THEN 500 ELSE 0 END AS cents",
    )
    d = v1.selectExpr("o_orderkey", "o_orderstatus AS st1", "cents AS c1").join(
        v2.selectExpr("o_orderkey", "o_orderstatus AS st2", "cents AS c2"),
        "o_orderkey",
        "full_outer",
    )
    return (
        d.selectExpr(
            "CASE WHEN c1 IS NULL THEN 'added'"
            " WHEN c2 IS NULL THEN 'removed'"
            " WHEN c1 <> c2 OR st1 <> st2 THEN 'changed'"
            " ELSE 'unchanged' END AS change"
        )
        .groupBy("change")
        .agg(F.count("*").alias("n_rows"))
    )


Q_SNAPSHOT_DIFF_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '{SNAP_CUT1}'
), v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderstatus = 'P' THEN 500 ELSE 0 END AS cents
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{SNAP_CUT2}'
    AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '{SNAP_ARCHIVE}')
), d AS (
  SELECT v1.o_orderstatus AS st1, v2.o_orderstatus AS st2,
         v1.cents AS c1, v2.cents AS c2
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT CASE WHEN c1 IS NULL THEN 'added' WHEN c2 IS NULL THEN 'removed'
            WHEN c1 <> c2 OR st1 <> st2 THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*) AS n_rows
FROM d GROUP BY 1
"""


SPECS += [
    QuerySpec("q_snapshot_diff", q_snapshot_diff, Q_SNAPSHOT_DIFF_ORACLE,
              "added/removed/changed/unchanged audit across two table versions",
              ("temporal", "cdc")),
]


# --- event debounce ---------------------------------------------------------
# Alert/telemetry debouncing: suppress repeats of the same (user, type)
# within DEBOUNCE_GAP_MS of the previously KEPT occurrence's predecessor
# — here the standard lag-based form: an event survives iff it is the
# first of its (user, type) or arrived more than the gap after the
# previous raw event. One lag over ONE (user_id, event_type) exchange;
# the per-type rollup is k rows. The streaming twin is the X1 state
# machine with the comparison inverted — same semantics, incremental.

DEBOUNCE_GAP_MS = 5 * 60 * 1000


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: raw event count vs count surviving a 5-minute
    same-(user, type) debounce."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_ms", "event_id")
    flagged = ev.withColumn(
        "keep",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w) > DEBOUNCE_GAP_MS),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_raw"), F.sum("keep").alias("n_after_debounce")
    )


Q_DEBOUNCE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
), f AS (
  SELECT event_type,
         CASE WHEN lag(ts_ms) OVER w IS NULL
                OR ts_ms - lag(ts_ms) OVER w > {DEBOUNCE_GAP_MS}
              THEN 1 ELSE 0 END AS keep
  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id)
)
SELECT event_type, COUNT(*) AS n_raw, CAST(SUM(keep) AS BIGINT) AS n_after_debounce
FROM f GROUP BY 1
"""


SPECS += [
    QuerySpec("q_event_debounce", q_event_debounce, Q_DEBOUNCE_ORACLE,
              "5-minute same-(user,type) debounce: raw vs surviving counts",
              ("temporal", "dedup")),
]


# --- top session journeys ---------------------------------------------------
# "What are the 10 most common user journeys" — session paths as ordered
# event-type strings. The path string is built DETERMINISTICALLY:
# collect_list into (ts, id, type) structs, array_sort (total order —
# collect_list alone has no ordering guarantee under parallelism), then
# transform+array_join. Sessions ride the same gap logic/exchange as
# q_user_sessions_gap; the path rollup shuffles one row per session; the
# final top-10 is a TakeOrdered (per-partition heaps, no global sort).
# Per-session collect_list is bounded by session length — the only
# memory assumption, true for human-scale sessions.


def q_top_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 10 session event-type paths by frequency (ties broken by
    path string)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    sess = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w) > SESSION_GAP_MS),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_ms", "event_id", "event_type"))
            ).alias("evs")
        )
        .selectExpr("array_join(transform(evs, x -> x.event_type), '>') AS path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


Q_TOP_JOURNEYS_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
), f AS (
  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                   OR ts_ms - lag(ts_ms) OVER w > {SESSION_GAP_MS}
                 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM f
), p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
  FROM s GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
ORDER BY n_sessions DESC, path ASC LIMIT 10
"""


# --- inter-arrival gap statistics -------------------------------------------
# Traffic-modeling basics: per event type, the distribution of same-user
# inter-arrival gaps. One lag over a (user, type) exchange, then a
# percentile aggregate per type (the single-array-buffer form; swap for
# approx_percentile at 100 TB). Percentile outputs go through floor()
# BEFORE the BIGINT cast — a .5 interpolated midpoint would otherwise
# round differently across engines (truncate vs half-even).


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: count, p50/p90 (floored ms), and min of same-user
    inter-arrival gaps."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    gaps = (
        e.withColumn(
            "prev",
            F.lag("ts_ms").over(
                Window.partitionBy("user_id", "event_type").orderBy(
                    "ts_ms", "event_id"
                )
            ),
        )
        .where(F.col("prev").isNotNull())
        .selectExpr("event_type", "ts_ms - prev AS gap_ms")
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.expr("CAST(floor(percentile(gap_ms, 0.5)) AS BIGINT)").alias("p50_gap_ms"),
        F.expr("CAST(floor(percentile(gap_ms, 0.9)) AS BIGINT)").alias("p90_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
    )


Q_INTERARRIVAL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
), g AS (
  SELECT event_type, ts_ms - lag(ts_ms) OVER w AS gap_ms
  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id)
)
SELECT event_type, COUNT(*) AS n_gaps,
       CAST(floor(quantile_cont(gap_ms, 0.5)) AS BIGINT) AS p50_gap_ms,
       CAST(floor(quantile_cont(gap_ms, 0.9)) AS BIGINT) AS p90_gap_ms,
       MIN(gap_ms) AS min_gap_ms
FROM g WHERE gap_ms IS NOT NULL GROUP BY 1
"""


# --- trending: trailing-7-day top-3 -----------------------------------------
# The "trending now" board: per day, the 3 most frequent event types
# over the trailing week. Reuses the rolling-WAU shape — daily rollup
# first (the big reduction), trailing window via a broadcast anchor-day
# spine join on the ALREADY-AGGREGATED table, then WindowGroupLimit-
# eligible row_number(<=3) with an explicit tie-break.


def q_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: rank 1-3 event types by trailing-7-day count."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        f"CAST(floor(unix_millis(ts) / {CONC_DAY_MS}) AS BIGINT) AS day",
        "event_type",
    )
    daily = e.groupBy("day", "event_type").agg(F.count("*").alias("n"))
    anchors = daily.select("day").distinct().selectExpr("day AS anchor_day")
    rolled = (
        daily.join(
            F.broadcast(anchors),
            (F.col("day") <= F.col("anchor_day"))
            & (F.col("day") > F.col("anchor_day") - 7),
        )
        .groupBy("anchor_day", "event_type")
        .agg(F.sum("n").alias("n7"))
    )
    wr = Window.partitionBy("anchor_day").orderBy(F.desc("n7"), F.asc("event_type"))
    return (
        rolled.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 3)
        .selectExpr(f"anchor_day * {CONC_DAY_MS} AS day_ms", "rnk", "event_type", "n7")
    )


Q_TRENDING_ORACLE = f"""
WITH e AS (
  SELECT CAST(floor(epoch_ms(ts) / {CONC_DAY_MS}) AS BIGINT) AS day, event_type
  FROM events
), daily AS (SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
anchors AS (SELECT DISTINCT day AS anchor_day FROM daily),
rolled AS (
  SELECT anchor_day, event_type, CAST(SUM(n) AS BIGINT) AS n7
  FROM daily JOIN anchors ON day <= anchor_day AND day > anchor_day - 7
  GROUP BY 1, 2
), ranked AS (
  SELECT anchor_day, event_type, n7,
         row_number() OVER (PARTITION BY anchor_day
                            ORDER BY n7 DESC, event_type ASC) AS rnk
  FROM rolled
)
SELECT anchor_day * {CONC_DAY_MS} AS day_ms, rnk, event_type, n7
FROM ranked WHERE rnk <= 3
"""


SPECS += [
    QuerySpec("q_top_journeys", q_top_journeys, Q_TOP_JOURNEYS_ORACLE,
              "top-10 session event paths, order-deterministic array build",
              ("temporal", "clickstream")),
    QuerySpec("q_interarrival_stats", q_interarrival_stats, Q_INTERARRIVAL_ORACLE,
              "same-user inter-arrival gap percentiles per event type",
              ("temporal", "timeseries")),
    QuerySpec("q_trending_topk", q_trending_topk, Q_TRENDING_ORACLE,
              "trailing-7-day top-3 event types per day (aggregate-then-spine)",
              ("temporal", "clickstream")),
]


# --- X5 batch: CEP followed-by (view → purchase within T) -------------------
# MATCH_RECOGNIZE-style sequence matching: a view (re)arms a per-user
# pending register, a purchase fires (view, purchase) when within the
# bound and ALWAYS disarms (matched or stale). For THIS policy
# (single-register, latest-view-wins, purchase-always-clears) the
# automaton provably collapses to a declarative form: at any purchase
# the register holds exactly the immediately preceding (view|purchase)
# event's ts iff that event was a view — so match ⇔ lag(type) = 'view'
# AND gap ≤ T. The batch query is therefore ONE window pass (codegen,
# ~10x the applyInPandas automaton it replaced), while the DuckDB
# oracle still replays the REAL automaton as a depth-bounded recursive
# CTE stepping one event per iteration — the collapse is CHECKED
# against the sequential semantics on every run, not assumed.
#
# Patterns that don't collapse (multi-stage, first-wins, backtracking)
# keep the sequential form: the streaming twin (x5_cep_stream) runs the
# shared pure-python automaton (streaming/state.py::cep_scan) with ONE
# long of state per user carried across micro-batches.

CEP_WITHIN_MS = 24 * 3600 * 1000


def _cep_recursive_oracle(within_ms: int) -> str:
    return f"""
WITH RECURSIVE e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts), event_id) AS idx
  FROM events WHERE event_type IN ('view', 'purchase')
), r(user_id, idx, pending, v_ts, p_ts) AS (
  SELECT user_id, 0, CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT user_id FROM e)
  UNION ALL
  SELECT r.user_id, r.idx + 1,
         CASE WHEN e.event_type = 'view' THEN e.ts_ms ELSE CAST(-1 AS BIGINT) END,
         CASE WHEN e.event_type = 'purchase' AND r.pending >= 0
                   AND e.ts_ms - r.pending <= {within_ms} THEN r.pending END,
         CASE WHEN e.event_type = 'purchase' AND r.pending >= 0
                   AND e.ts_ms - r.pending <= {within_ms} THEN e.ts_ms END
  FROM r JOIN e ON e.user_id = r.user_id AND e.idx = r.idx + 1
)
SELECT user_id, v_ts AS view_ts_ms, p_ts AS purchase_ts_ms,
       p_ts - v_ts AS gap_ms
FROM r WHERE v_ts IS NOT NULL
"""


def q_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping (view → purchase ≤ 24 h) matches per user."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    ).select("user_id", F.unix_millis("ts").alias("ts_ms"), "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_ts", F.lag("ts_ms").over(w))
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("prev_type") == "view")
            & (F.col("ts_ms") - F.col("prev_ts") <= CEP_WITHIN_MS)
        )
        .selectExpr(
            "user_id", "prev_ts AS view_ts_ms", "ts_ms AS purchase_ts_ms",
            "ts_ms - prev_ts AS gap_ms",
        )
    )


Q_CEP_ORACLE = _cep_recursive_oracle(CEP_WITHIN_MS)


SPECS += [
    QuerySpec("q_cep_followed_by", q_cep_followed_by, Q_CEP_ORACLE,
              "CEP view→purchase within 24h, non-overlapping (match consumes)",
              ("temporal", "cep")),
]


# --- last-touch marketing attribution ---------------------------------------
# Each purchase's value is attributed to the user's most recent
# NON-purchase event (the "channel") within a 7-day lookback, else
# 'none'. The carry is last_value(...) IGNORE NULLS over a
# strict-preceding frame — one window pass, no as-of join — with the
# channel and its timestamp carried by TWO aligned IGNORE-NULLS calls
# over the same deterministic order. Value sums in integer cents.

ATTR_LOOKBACK_MS = 7 * 24 * 3600 * 1000


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp_type = F.expr("CASE WHEN event_type <> 'purchase' THEN event_type END")
    nonp_ts = F.expr("CASE WHEN event_type <> 'purchase' THEN ts_ms END")
    touched = (
        ev.withColumn("last_ch", F.last(nonp_type, ignorenulls=True).over(w))
        .withColumn("last_ts", F.last(nonp_ts, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .selectExpr(
            "cents",
            f"CASE WHEN last_ch IS NOT NULL AND ts_ms - last_ts <= {ATTR_LOOKBACK_MS}"
            " THEN last_ch ELSE 'none' END AS channel",
        )
    )
    return touched.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("attributed_cents"),
    )


Q_ATTRIBUTION_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), t AS (
  SELECT event_type, ts_ms, cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER w AS last_ch,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts_ms END IGNORE NULLS)
           OVER w AS last_ts
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), p AS (
  SELECT cents,
         CASE WHEN last_ch IS NOT NULL AND ts_ms - last_ts <= {ATTR_LOOKBACK_MS}
              THEN last_ch ELSE 'none' END AS channel
  FROM t WHERE event_type = 'purchase'
)
SELECT channel, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS attributed_cents
FROM p GROUP BY channel
"""


SPECS += [
    QuerySpec("q_attribution_last_touch", q_attribution_last_touch,
              Q_ATTRIBUTION_ORACLE,
              "last-touch revenue attribution via aligned IGNORE-NULLS carries",
              ("temporal", "attribution")),
]


# --- CEP absence detection: view NOT followed by purchase -------------------
# FlinkCEP's ``notFollowedBy`` / timeout-pattern family: a view with NO
# purchase in the next 24 h is an abandonment. Declarative form: the
# next purchase timestamp comes from a forward IGNORE-NULLS first_value
# over a strictly-following frame — one window pass, no self-join. The
# streaming analog of absence-with-timeout is the x3 idle-timeout state
# machine (GroupStateTimeout), already pinned.

ABANDON_WINDOW_MS = 24 * 3600 * 1000


def q_cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id"
    ).where(F.col("event_type").isin("view", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_p = F.first(
        F.expr("CASE WHEN event_type = 'purchase' THEN ts_ms END"), ignorenulls=True
    ).over(w)
    views = (
        ev.withColumn("next_p_ts", next_p)
        .where(F.col("event_type") == "view")
        .selectExpr(
            f"ts_ms - pmod(ts_ms, {86_400_000}) AS day_ms",
            f"CAST(next_p_ts IS NULL OR next_p_ts - ts_ms > {ABANDON_WINDOW_MS} AS INT) AS abandoned",
        )
    )
    return views.groupBy("day_ms").agg(
        F.count("*").alias("n_views"),
        F.sum("abandoned").alias("n_abandoned"),
    )


Q_NOT_FOLLOWED_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type IN ('view', 'purchase')
), t AS (
  SELECT event_type, ts_ms,
         first_value(CASE WHEN event_type = 'purchase' THEN ts_ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p_ts
  FROM e
), v AS (
  SELECT ts_ms - ts_ms % 86400000 AS day_ms,
         CAST(next_p_ts IS NULL OR next_p_ts - ts_ms > {ABANDON_WINDOW_MS} AS INT) AS abandoned
  FROM t WHERE event_type = 'view'
)
SELECT day_ms, COUNT(*) AS n_views, CAST(SUM(abandoned) AS BIGINT) AS n_abandoned
FROM v GROUP BY day_ms
"""


# --- temporal table join (point-in-time dimension lookup) -------------------
# Flink's temporal-table-join family: each purchase joins the SCD2
# version of the user's activity state that was VALID AT purchase time.
# The dimension is built from non-purchase events (q_scd2_user_state's
# change-collapse), the fact side probes it with an equi-join on
# user_id plus a validity-range residual — Catalyst plans the hash join
# on the key, the range is a post-join filter (same shape as
# range_join_purchase_errors; at 100 TB bucket both sides by user).

def q_temporal_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    dim_log = ev.where(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    versions = (
        dim_log.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts_ms").alias("valid_from_ms"),
            F.coalesce(F.lead("ts_ms").over(w) - 1, F.lit(2**62)).alias("valid_to_ms"),
        )
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts_ms").alias("p_ts"), "cents"
    )
    joined = p.join(
        versions,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("valid_from_ms") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("valid_to_ms")),
        "left",
    )
    return joined.groupBy(F.coalesce("state", F.lit("none")).alias("state_at_purchase")).agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("revenue_cents"),
    )


Q_TEMPORAL_JOIN_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), log AS (
  SELECT user_id, event_type, ts_ms, event_id,
         lag(event_type) OVER w AS prev_type
  FROM e WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), versions AS (
  SELECT user_id, event_type AS state, ts_ms AS valid_from_ms,
         COALESCE(lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) - 1,
                  4611686018427387904) AS valid_to_ms
  FROM log WHERE prev_type IS NULL OR prev_type <> event_type
), p AS (
  SELECT user_id, ts_ms AS p_ts, cents FROM e WHERE event_type = 'purchase'
)
SELECT COALESCE(v.state, 'none') AS state_at_purchase,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(p.cents AS HUGEINT)) AS BIGINT) AS revenue_cents
FROM p LEFT JOIN versions v
  ON v.user_id = p.user_id
 AND v.valid_from_ms <= p.p_ts AND p.p_ts <= v.valid_to_ms
GROUP BY 1
"""


# --- cohort LTV curve --------------------------------------------------------
# Revenue-based retention: users cohorted by first-seen 7-day epoch
# bucket, purchase revenue accumulated by week-age. Epoch-week buckets
# (floor(ms / 7d)) instead of calendar weeks — engine week-origin
# semantics differ, epoch arithmetic doesn't. Cumulative LTV runs over
# the calendar-bounded (cohort × age) grid.

WEEK_MS = 7 * 86_400_000


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    firsts = ev.groupBy("user_id").agg(
        F.expr(f"CAST(floor(min(ts_ms) / {WEEK_MS}) AS BIGINT)").alias("cohort_week")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .selectExpr(
            "cohort_week",
            f"CAST(floor(ts_ms / {WEEK_MS}) AS BIGINT) - cohort_week AS age_weeks",
            "cents",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(
            F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("week_revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_users"))
    return (
        rev.withColumn("cum_revenue_cents", F.sum("week_revenue_cents").over(w))
        .join(F.broadcast(sized), "cohort_week")
        .select("cohort_week", "age_weeks", "cohort_users",
                "week_revenue_cents", "cum_revenue_cents")
    )


Q_COHORT_LTV_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), firsts AS (
  SELECT user_id, CAST(floor(MIN(ts_ms) / {WEEK_MS}) AS BIGINT) AS cohort_week
  FROM e GROUP BY user_id
), rev AS (
  SELECT f.cohort_week,
         CAST(floor(e.ts_ms / {WEEK_MS}) AS BIGINT) - f.cohort_week AS age_weeks,
         CAST(SUM(CAST(e.cents AS HUGEINT)) AS BIGINT) AS week_revenue_cents
  FROM e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), sized AS (
  SELECT cohort_week, COUNT(*) AS cohort_users FROM firsts GROUP BY 1
)
SELECT cohort_week, age_weeks, cohort_users, week_revenue_cents,
       CAST(SUM(week_revenue_cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_revenue_cents
FROM rev JOIN sized USING (cohort_week)
"""


SPECS += [
    QuerySpec("q_cep_not_followed_by", q_cep_not_followed_by, Q_NOT_FOLLOWED_ORACLE,
              "CEP absence pattern: views NOT followed by purchase within 24h",
              ("temporal", "cep")),
    QuerySpec("q_temporal_table_join", q_temporal_table_join, Q_TEMPORAL_JOIN_ORACLE,
              "point-in-time SCD2 dimension lookup per purchase (Flink temporal join)",
              ("temporal", "join")),
    QuerySpec("q_cohort_ltv", q_cohort_ltv, Q_COHORT_LTV_ORACLE,
              "cumulative revenue LTV per first-seen epoch-week cohort",
              ("analytics", "cohort")),
]


# --- position-based (U-shaped) multi-touch attribution -----------------------
# The multi-touch complement of q_attribution_last_touch: each conversion's
# credit is split 40% / 20% / 40% across first / middle / last touches in
# the 7-day lookback. One pass, no as-of join blow-up: every non-purchase
# event finds its NEXT purchase via the forward aligned IGNORE-NULLS probe
# (the q_cep_not_followed_by machinery), then position within the
# (user, conversion) touch group comes from one more window over the same
# user_id exchange. Credits are exact integer MILLIs that provably sum to
# 1000 per conversion: middles get 200 div (n-2) each and the first touch
# absorbs the remainder (n=1 -> 1000, n=2 -> 500/500).

def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id"
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    p_ts = F.expr("CASE WHEN event_type = 'purchase' THEN ts_ms END")
    p_id = F.expr("CASE WHEN event_type = 'purchase' THEN event_id END")
    touches = (
        ev.withColumn("np_ts", F.first(p_ts, ignorenulls=True).over(wf))
        .withColumn("np_id", F.first(p_id, ignorenulls=True).over(wf))
        .where("event_type <> 'purchase'")
        .where(f"np_ts IS NOT NULL AND np_ts - ts_ms <= {ATTR_LOOKBACK_MS}")
    )
    g = Window.partitionBy("user_id", "np_id")
    go = g.orderBy("ts_ms", "event_id")
    credited = (
        touches.withColumn("rn", F.row_number().over(go))
        .withColumn("n", F.count("*").over(g))
        .selectExpr(
            "event_type AS channel", "user_id", "np_id",
            "CASE WHEN n = 1 THEN 1000"
            "     WHEN n = 2 THEN 500"
            "     WHEN rn = n THEN 400"
            "     WHEN rn = 1 THEN 600 - (n - 2) * (200 div (n - 2))"
            "     ELSE 200 div (n - 2) END AS credit_milli",
        )
    )
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.countDistinct("user_id", "np_id").alias("n_conversions"),
        F.sum("credit_milli").cast("long").alias("credit_milli_total"),
    )


Q_ATTR_POSITION_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
), probe AS (
  SELECT user_id, event_type, ts_ms, event_id,
         first_value(CASE WHEN event_type = 'purchase' THEN ts_ms END
                     IGNORE NULLS) OVER wf AS np_ts,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END
                     IGNORE NULLS) OVER wf AS np_id
  FROM e
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), t AS (
  SELECT * FROM probe
  WHERE event_type <> 'purchase' AND np_ts IS NOT NULL
    AND np_ts - ts_ms <= {ATTR_LOOKBACK_MS}
), pos AS (
  SELECT event_type AS channel, user_id, np_id,
         row_number() OVER (PARTITION BY user_id, np_id
                            ORDER BY ts_ms, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, np_id) AS n
  FROM t
)
SELECT channel, COUNT(*) AS n_touches,
       COUNT(DISTINCT (user_id, np_id)) AS n_conversions,
       CAST(SUM(CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
                     WHEN rn = n THEN 400
                     WHEN rn = 1 THEN 600 - (n - 2) * (200 // (n - 2))
                     ELSE 200 // (n - 2) END) AS BIGINT) AS credit_milli_total
FROM pos GROUP BY 1
"""


SPECS += [
    QuerySpec("q_attribution_position", q_attribution_position,
              Q_ATTR_POSITION_ORACLE,
              "U-shaped 40/20/40 multi-touch attribution, exact integer millis",
              ("temporal", "attribution")),
]


# --- bitemporal as-of reconstruction ------------------------------------------
# The two-clock temporal family the SCD2 join (valid time only) can't
# answer: "as of what we KNEW on date K, what was the revenue valid in
# month M?" — the restatement question every finance close runs.
# Versions are derived deterministically (every 7th order gets a +10%
# price correction RECORDED 30 days after the order date; originals are
# recorded at the order date); the knowledge cutoff K is the calendar
# midpoint. Per order, the as-known-at-K version is the latest
# recorded_at <= K (one argmax window on the orderkey exchange); the
# as-known-now version is the overall latest. Orders not yet recorded
# at K are (correctly) absent from the as-of reconstruction, so the
# output covers months known at K; the restatements concentrate in the
# 30-day band before K — corrections for those orders landed after the
# knowledge cutoff, so revenue_now > revenue_asof exactly there.

BT_CORRECTION_MOD = 7
BT_RECORD_LAG_MS = 30 * 86_400_000


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "unix_millis(o_orderdate) AS valid_ms",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    versions = o.selectExpr(
        "o_orderkey", "valid_ms", "valid_ms AS recorded_ms", "cents",
    ).unionAll(
        o.where(f"o_orderkey % {BT_CORRECTION_MOD} = 0").selectExpr(
            "o_orderkey", "valid_ms",
            f"valid_ms + {BT_RECORD_LAG_MS} AS recorded_ms",
            "cents + cents div 10 AS cents",
        )
    )
    cutoff = F.broadcast(
        o.agg(F.expr(
            "CAST((MIN(valid_ms) + MAX(valid_ms)) / 2 AS BIGINT) AS k_ms"))
    )
    w_all = Window.partitionBy("o_orderkey").orderBy(F.desc("recorded_ms"))
    vk = versions.crossJoin(cutoff)
    w_k = Window.partitionBy("o_orderkey").orderBy(F.desc("recorded_ms"))
    as_now = (
        versions.withColumn("rn", F.row_number().over(w_all))
        .where("rn = 1")
        .selectExpr("o_orderkey", "valid_ms", "cents AS cents_now")
    )
    as_k = (
        vk.where("recorded_ms <= k_ms")
        .withColumn("rn", F.row_number().over(w_k))
        .where("rn = 1")
        .selectExpr("o_orderkey", "cents AS cents_asof")
    )
    return (
        as_now.join(as_k, "o_orderkey")
        .selectExpr(
            "CAST(valid_ms - pmod(valid_ms, 2592000000) AS BIGINT) AS month_ms",
            "cents_now", "cents_asof",
            "CAST(cents_now <> cents_asof AS INT) AS restated",
        )
        .groupBy("month_ms")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.expr("CAST(cents_asof AS DECIMAL(28,0))")).cast("long")
            .alias("revenue_asof_cents"),
            F.sum(F.expr("CAST(cents_now AS DECIMAL(28,0))")).cast("long")
            .alias("revenue_now_cents"),
            F.sum("restated").cast("long").alias("n_restated"),
        )
    )


Q_BITEMPORAL_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, epoch_ms(o_orderdate) AS valid_ms,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), versions AS (
  SELECT o_orderkey, valid_ms, valid_ms AS recorded_ms, cents FROM o
  UNION ALL
  SELECT o_orderkey, valid_ms, valid_ms + {BT_RECORD_LAG_MS},
         cents + cents // 10
  FROM o WHERE o_orderkey % {BT_CORRECTION_MOD} = 0
), cutoff AS (
  SELECT CAST((MIN(valid_ms) + MAX(valid_ms)) / 2 AS BIGINT) AS k_ms FROM o
), as_now AS (
  SELECT o_orderkey, valid_ms, cents AS cents_now FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY recorded_ms DESC) AS rn
    FROM versions) WHERE rn = 1
), as_k AS (
  SELECT o_orderkey, cents AS cents_asof FROM (
    SELECT v.*, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY recorded_ms DESC) AS rn
    FROM versions v, cutoff WHERE recorded_ms <= k_ms) WHERE rn = 1
)
SELECT CAST(valid_ms - valid_ms % 2592000000 AS BIGINT) AS month_ms,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(cents_asof AS HUGEINT)) AS BIGINT) AS revenue_asof_cents,
       CAST(SUM(CAST(cents_now AS HUGEINT)) AS BIGINT) AS revenue_now_cents,
       CAST(SUM(CAST(cents_now <> cents_asof AS INT)) AS BIGINT) AS n_restated
FROM as_now JOIN as_k USING (o_orderkey)
GROUP BY 1
"""


SPECS += [
    QuerySpec("q_bitemporal_asof", q_bitemporal_asof, Q_BITEMPORAL_ORACLE,
              "two-clock reconstruction: revenue as-known-at-K vs as-known-now",
              ("temporal", "bitemporal")),
]


# --- W9: capped-duration session windows --------------------------------------
# Session windows that close on EITHER the inactivity gap OR a maximum
# total span — the "no infinite sessions" guard every production
# sessionizer carries (a polling client that pings every minute would
# otherwise hold one session open forever). Unlike the plain gap
# sessionizer (lag + cumsum) this is a true sequential recurrence: the
# cap compares against the session ANCHOR, which depends on every prior
# assignment, so the batch form is a per-user JVM-side ``aggregate``
# fold whose accumulator carries the closed sessions plus the open one,
# and the oracle replays the identical recurrence as a depth-bounded
# recursive CTE (the q_cep_followed_by device). Each session row carries
# why it OPENED ('first' | 'gap' | 'cap') so both close reasons are
# observable in the output.

W9_GAP_MS = 24 * 3600 * 1000
W9_MAX_SPAN_MS = 36 * 3600 * 1000

_W9_SESS_T = "ARRAY<STRUCT<a: BIGINT, e: BIGINT, n: BIGINT, o: STRING>>"


def w9_capped_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    series = ev.groupBy("user_id").agg(
        F.expr("sort_array(collect_list(struct(ts_ms, event_id)))").alias("sc")
    )
    closed = ("concat(acc.sess, array(named_struct('a', acc.anchor,"
              " 'e', acc.endt, 'n', acc.n, 'o', acc.opened)))")
    folded = series.selectExpr(
        "user_id",
        f"""aggregate(
              sc,
              named_struct('sess', CAST(array() AS {_W9_SESS_T}),
                           'anchor', CAST(0 AS BIGINT),
                           'prev', CAST(0 AS BIGINT),
                           'n', CAST(0 AS BIGINT),
                           'endt', CAST(0 AS BIGINT),
                           'opened', 'first', 'init', false),
              (acc, x) -> CASE
                WHEN NOT acc.init THEN named_struct(
                  'sess', CAST(array() AS {_W9_SESS_T}),
                  'anchor', x.ts_ms, 'prev', x.ts_ms,
                  'n', CAST(1 AS BIGINT), 'endt', x.ts_ms,
                  'opened', 'first', 'init', true)
                WHEN x.ts_ms - acc.prev > {W9_GAP_MS}
                     OR x.ts_ms - acc.anchor > {W9_MAX_SPAN_MS}
                THEN named_struct(
                  'sess', {closed},
                  'anchor', x.ts_ms, 'prev', x.ts_ms,
                  'n', CAST(1 AS BIGINT), 'endt', x.ts_ms,
                  'opened', CASE WHEN x.ts_ms - acc.prev > {W9_GAP_MS}
                                 THEN 'gap' ELSE 'cap' END,
                  'init', true)
                ELSE named_struct(
                  'sess', acc.sess,
                  'anchor', acc.anchor, 'prev', x.ts_ms,
                  'n', acc.n + 1, 'endt', x.ts_ms,
                  'opened', acc.opened, 'init', true) END
            ) AS st""",
    )
    return (
        folded.selectExpr(
            "user_id",
            "explode(concat(st.sess, array(named_struct('a', st.anchor,"
            " 'e', st.endt, 'n', st.n, 'o', st.opened)))) AS s",
        )
        .selectExpr(
            "user_id", "s.a AS session_start_ms", "s.e AS session_end_ms",
            "s.n AS n_events", "s.o AS opened_by",
        )
    )


W9_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts), event_id) AS idx
  FROM events
), r(user_id, idx, anchor, prev_ts, opened) AS (
  SELECT user_id, 0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS VARCHAR)
  FROM (SELECT DISTINCT user_id FROM e)
  UNION ALL
  SELECT r.user_id, r.idx + 1,
         CASE WHEN r.anchor IS NULL THEN e.ts_ms
              WHEN e.ts_ms - r.prev_ts > {W9_GAP_MS}
                OR e.ts_ms - r.anchor > {W9_MAX_SPAN_MS} THEN e.ts_ms
              ELSE r.anchor END,
         e.ts_ms,
         CASE WHEN r.anchor IS NULL THEN 'first'
              WHEN e.ts_ms - r.prev_ts > {W9_GAP_MS} THEN 'gap'
              WHEN e.ts_ms - r.anchor > {W9_MAX_SPAN_MS} THEN 'cap'
              ELSE r.opened END
  FROM r JOIN e ON e.user_id = r.user_id AND e.idx = r.idx + 1
)
SELECT user_id, anchor AS session_start_ms,
       MAX(prev_ts) AS session_end_ms,
       COUNT(*) AS n_events,
       MIN(opened) AS opened_by
FROM r WHERE idx > 0
GROUP BY user_id, anchor
"""


SPECS += [
    QuerySpec("w9_capped_session", w9_capped_session, W9_ORACLE,
              "gap-OR-max-span session windows: per-user automaton vs recursive CTE",
              ("window", "session", "stateful")),
]


# --- interval union: merged order-fulfillment coverage per customer ----------
# The gaps-and-islands MERGE: each order is an interval [orderdate,
# last shipdate]; overlapping intervals per customer fuse into islands,
# and the rollup answers "how much wall-clock time was this customer's
# pipeline active, in how many distinct bursts, and how long was the
# longest one" — the interval-algebra primitive sessionization can't
# express (intervals arrive with EXTENT, not as instants, so a gap
# threshold is the wrong tool). Plan shape: one map-side-combinable
# rollup to order spans, then a single per-customer sort-window pass —
# the running-max-of-ends trick makes island detection O(n log n) per
# key with NO self-join (the naive overlap formulation is a quadratic
# interval self-join). Per-key cardinality is order count — bounded at
# 100 TB. Ordering ties break on (start, end, orderkey) identically on
# both engines; a shipment logged before its order date clamps to a
# zero-length interval.

def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    spans = (
        l.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("ship_end"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .selectExpr(
            "o_custkey",
            "unix_millis(o_orderdate) AS s",
            "greatest(unix_millis(o_orderdate), unix_millis(ship_end)) AS e",
            "o_orderkey",
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("s", "e", "o_orderkey")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("o_custkey", "island").agg(
        F.min("s").alias("is_s"), F.max("e").alias("is_e")
    )
    return islands.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("is_e") - F.col("is_s")).alias("covered_ms"),
        F.max(F.col("is_e") - F.col("is_s")).alias("max_island_ms"),
    )


INTERVAL_UNION_ORACLE = """
WITH spans AS (
  SELECT o_custkey, epoch_ms(o_orderdate) AS s,
         GREATEST(epoch_ms(o_orderdate), epoch_ms(ship_end)) AS e,
         o_orderkey
  FROM (SELECT l_orderkey, MAX(l_shipdate) AS ship_end
        FROM lineitem GROUP BY 1)
  JOIN orders ON l_orderkey = o_orderkey
), flagged AS (
  SELECT o_custkey, s, e, o_orderkey,
         CASE WHEN MAX(e) OVER w_prev IS NULL
                OR s > MAX(e) OVER w_prev
              THEN 1 ELSE 0 END AS new_island
  FROM spans
  WINDOW w_prev AS (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT o_custkey, s, e,
         SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT o_custkey, island, MIN(s) AS is_s, MAX(e) AS is_e
  FROM isl GROUP BY 1, 2
)
SELECT o_custkey AS custkey, COUNT(*) AS n_islands,
       CAST(SUM(is_e - is_s) AS BIGINT) AS covered_ms,
       CAST(MAX(is_e - is_s) AS BIGINT) AS max_island_ms
FROM islands GROUP BY 1
"""


SPECS += [
    QuerySpec("q_interval_union", q_interval_union, INTERVAL_UNION_ORACLE,
              "merge overlapping fulfillment intervals per customer, no self-join",
              ("temporal", "interval", "window")),
]


# --- Shapley-value channel attribution ------------------------------------------
# The game-theoretic completion of the attribution family (last-touch and
# position-based above are heuristics; Shapley is the axiomatically fair
# split). Coalition value v(S) = number of converted users whose
# pre-conversion touch-channel SET is contained in S. With 4 touch
# channels the 16 coalitions enumerate exactly, and the Shapley value
# phi_i = sum over S not containing i of |S|!(3-|S|)!/4! * (v(S+i)-v(S))
# is EXACT INTEGER once scaled by 4! = 24 (the factorial weights 6/2/2/6
# are integers). Everything driver-scale after one keyed rollup: user ->
# 4-bit touch mask (one aggregate), mask -> profile counts (<= 16 rows),
# coalition/marginal joins on broadcast 16-row tables. Sanity law the
# oracle enforces by construction: sum_i phi_x24 = 24 * (v(full) - v({})).

SHAP_CHANNELS = ("click", "error", "signup", "view")  # bit order, sorted


def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms")
    fp = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id").agg(F.min("ts_ms").alias("fp_ms"))
    )
    bits = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(SHAP_CHANNELS))
    profiles = (
        ev.join(fp, "user_id")
        .where("event_type <> 'purchase' AND ts_ms < fp_ms")
        .groupBy("user_id")
        .agg(F.expr(f"{bits} AS mask"))
        .groupBy("mask").agg(F.count("*").alias("n_conv"))
    )
    coalitions = spark.range(16).selectExpr("CAST(id AS INT) AS s")
    # v is 16 rows but its subtree (events scan -> first-purchase join
    # -> two rollups -> coalition BNLJ) is referenced NINE times below
    # (2 per channel + the total); pinned, the heavy derivation runs
    # once (r10, guide §2.4; same-JVM alternating A/B at sf0.1:
    # 1.77 -> 1.20 s min, -32%, every leg).
    v = (
        coalitions.join(
            F.broadcast(profiles),
            F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    ).localCheckpoint(eager=True)
    rows = []
    for i, ch in enumerate(SHAP_CHANNELS):
        bit = 1 << i
        a = v.where(f"(s & {bit}) = 0").selectExpr("s", "v AS v_s")
        b = v.selectExpr(f"s - {bit} AS s", "v AS v_si")
        rows.append(
            a.join(F.broadcast(b), "s")
            .selectExpr(
                f"'{ch}' AS channel",
                "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2"
                " WHEN 2 THEN 2 ELSE 6 END * (v_si - v_s) AS term")
            .groupBy("channel")
            .agg(F.sum("term").alias("phi_x24"))
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    total = v.where("s = 15").selectExpr("v AS n_converted_touched")
    return out.crossJoin(F.broadcast(total))


_SHAP_BITS_D = " + ".join(
    f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
    for i, ch in enumerate(SHAP_CHANNELS))

Q_ATTRIBUTION_SHAPLEY_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), fp AS (
  SELECT user_id, MIN(ts_ms) AS fp_ms FROM ev
  WHERE event_type = 'purchase' GROUP BY 1
), profiles AS (
  SELECT mask, COUNT(*) AS n_conv FROM (
    SELECT e.user_id, {_SHAP_BITS_D} AS mask
    FROM ev e JOIN fp USING (user_id)
    WHERE e.event_type <> 'purchase' AND e.ts_ms < fp.fp_ms
    GROUP BY 1)
  GROUP BY 1
), coalitions AS (
  SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS s
), v AS (
  SELECT s, CAST(COALESCE(SUM(n_conv), 0) AS BIGINT) AS v
  FROM coalitions LEFT JOIN profiles ON (mask & s) = mask
  GROUP BY 1
), chans AS (
  SELECT * FROM (VALUES {", ".join(f"('{ch}', {1 << i})" for i, ch in enumerate(SHAP_CHANNELS))})
    t(channel, bit)
), phi AS (
  SELECT c.channel,
         CAST(SUM((CASE bit_count(a.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                   WHEN 2 THEN 2 ELSE 6 END) * (b.v - a.v)) AS BIGINT)
           AS phi_x24
  FROM chans c
  JOIN v a ON (a.s & c.bit) = 0
  JOIN v b ON b.s = a.s + c.bit
  GROUP BY 1
)
SELECT channel, phi_x24,
       (SELECT v FROM v WHERE s = 15) AS n_converted_touched
FROM phi
"""


SPECS += [
    QuerySpec("q_attribution_shapley", q_attribution_shapley,
              Q_ATTRIBUTION_SHAPLEY_ORACLE,
              "exact Shapley channel attribution over 4-bit coalitions",
              ("analytics", "attribution")),
]
