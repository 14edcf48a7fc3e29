"""Classical statistics + training-label construction, integer-exact.

Extends the rank-statistics family (operators/behavior.py: Mann-Whitney U,
KS, CUSUM, weighted median) with the remaining tests an analytics team
reaches for: Spearman rank correlation, the Mann-Kendall trend test,
distribution-drift by total variation distance, max drawdown, and
Gini-Simpson diversity — plus churn-label construction (the supervised-
learning counterpart of the event-stream analytics; reference analog is
the keyed per-user state rollups of ``chapter6/CourseUseCase.java:82-95``,
re-expressed as leakage-safe observation/holdout windows).

House rules (see registry.py docstring): every statistic is computed from
exact integer/DECIMAL sums so a 32-partition Spark aggregation and the
single-threaded DuckDB oracle agree bit-for-bit; the ONLY float arithmetic
is a final scalar expression over already-exact BIGINTs, written with
IDENTICAL operation order on both engines (IEEE-754 +,×,÷,sqrt,floor are
correctly rounded, so identical inputs + identical order ⇒ identical
bits).

Scale notes (100 TB):
- Spearman: tie-averaged ranks come from the value-sharded two-pass
  distributed rank (7th user of the q_revenue_gini machinery) — the rank
  map is built over DISTINCT values (grouped rollup), never a global
  window over the fact table; the small-domain side (50 quantity levels)
  broadcasts, the large-domain side joins on its own shuffle key.
- Mann-Kendall / drawdown / CUSUM family: the pairwise/window pass runs
  over the DAILY aggregate — calendar-bounded (≤ |days| rows) no matter
  how many trillions of facts produced it, so the |days|² sign join and
  the single-partition running max are driver-scale BY CONSTRUCTION.
- TVD drift / Simpson: one grouped rollup each; band and (lang, source)
  domains are fixed-size, the per-band compare is map-side after one
  shuffle.
- churn labels: two keyed rollups on the same shuffle key (user_id) and
  one equi-join — no fact self-join, no window over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import QuerySpec
from ..functions.localdf import local_literal_df
from ..sources.tables import load_table

SPECS: list[QuerySpec] = []

DAY_MS = 86_400_000


# --- Spearman rank correlation ----------------------------------------------
# rho between lineitem quantity and extended price, with tie-averaged
# ranks kept integer by the classic x2 scaling: r2 = 2*(#less) + #tied + 1
# (twice the average rank of a tie group). All five moment sums are exact;
# rho itself is one deterministic double expression over them.

_Q_SHARD = 10          # quantity in 1..50 -> ~5 shards (broadcast side anyway)
_P_SHARD = 100_000     # price cents: $1000-wide rank shards (~110 shards)


def _tie_rank2(values: DataFrame, shard_size: int) -> DataFrame:
    """Map of distinct value -> (cnt, r2 = 2*tie-averaged global rank).

    Two-pass sharded rank over the DISTINCT-value rollup: in-shard
    cumulative counts + a broadcast prefix-sum of shard totals. The
    orderBy window is per-shard, so no single-partition sort ever sees
    more than one shard's distinct values.
    """
    g = values.groupBy("v").agg(F.count("*").alias("cnt")).withColumn(
        "shard", F.expr(f"v div {shard_size}"))
    w_in = Window.partitionBy("shard").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1)
    local = g.withColumn("less_in", F.coalesce(F.sum("cnt").over(w_in), F.lit(0)))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        g.groupBy("shard").agg(F.sum("cnt").alias("c"))
        .withColumn("base", F.coalesce(F.sum("c").over(w_sh), F.lit(0)))
        .select("shard", "base")
    )
    return local.join(F.broadcast(bases), "shard").selectExpr(
        "v", "cnt", "2 * (base + less_in) + cnt + 1 AS r2")


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS xv",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS yv",
    )
    rx = _tie_rank2(rows.selectExpr("xv AS v"), _Q_SHARD).selectExpr(
        "v AS xv", "r2 AS r2x")
    # ONE fact shuffle: the 50-level x-rank map joins map-side (broadcast),
    # then the fact groups by yv carrying x-moment partials — the y-rank is
    # computed over this SAME grouped table, so the per-row y-rank join
    # (a second full-fact shuffle in the naive plan) never exists.
    g = (
        rows.join(F.broadcast(rx), "xv")
        .groupBy("yv")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.expr("CAST(r2x AS DECIMAL(38,0))")).alias("sxg"),
            F.sum(F.expr("CAST(r2x AS DECIMAL(38,0)) * r2x")).alias("sxxg"),
        )
        .withColumn("shard", F.expr(f"yv div {_P_SHARD}"))
    )
    w_in = Window.partitionBy("shard").orderBy("yv").rowsBetween(
        Window.unboundedPreceding, -1)
    local = g.withColumn("less_in", F.coalesce(F.sum("cnt").over(w_in), F.lit(0)))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        g.groupBy("shard").agg(F.sum("cnt").alias("c"))
        .withColumn("base", F.coalesce(F.sum("c").over(w_sh), F.lit(0)))
        .select("shard", "base")
    )
    ranked = local.join(F.broadcast(bases), "shard").selectExpr(
        "cnt", "sxg", "sxxg", "2 * (base + less_in) + cnt + 1 AS r2y")
    sums = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.expr("CAST(sxg AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(r2y AS DECIMAL(38,0)) * cnt")).alias("sy"),
        F.sum(F.expr("CAST(sxxg AS DECIMAL(38,0))")).alias("sxx"),
        F.sum(F.expr("CAST(r2y AS DECIMAL(38,0)) * r2y * cnt")).alias("syy"),
        F.sum(F.expr("CAST(r2y AS DECIMAL(38,0)) * sxg")).alias("sxy"),
    )
    return sums.selectExpr(
        "n",
        "CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " * 1000000.0 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) AS BIGINT)"
        " AS rho_micro",
    )


Q_SPEARMAN_ORACLE = """
WITH rows_ AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS xv,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS yv
  FROM lineitem
), gx AS (
  SELECT xv AS v, COUNT(*) AS cnt FROM rows_ GROUP BY 1
), rx AS (
  SELECT v AS xv,
         2 * (SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) - cnt) + cnt + 1 AS r2x
  FROM gx
), gy AS (
  SELECT yv AS v, COUNT(*) AS cnt FROM rows_ GROUP BY 1
), ry AS (
  SELECT v AS yv,
         2 * (SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) - cnt) + cnt + 1 AS r2y
  FROM gy
), joined AS (
  SELECT r2x, r2y FROM rows_ JOIN rx USING (xv) JOIN ry USING (yv)
), sums AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(r2x AS HUGEINT)) AS sx,
         SUM(CAST(r2y AS HUGEINT)) AS sy,
         SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
         SUM(CAST(r2y AS HUGEINT) * r2y) AS syy,
         SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy
  FROM joined
)
SELECT n,
       CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        * 1000000.0 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) AS BIGINT)
       AS rho_micro
FROM sums
"""


# --- Mann-Kendall trend test -------------------------------------------------
# Is daily order revenue trending? S = sum over day pairs (i<j) of
# sign(x_j - x_i); ties correction Var(S)*18 = n(n-1)(2n+5) - sum t(t-1)(2t+5).
# The |days|^2 pair join runs over the calendar-bounded daily aggregate
# (broadcast nested loop is allowlisted for exactly this reason), never
# over raw orders. z is the usual continuity-corrected normal score.

def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    a = daily.selectExpr("day_ms AS da", "x AS xa")
    b = daily.selectExpr("day_ms AS db", "x AS xb")
    s_row = (
        b.join(F.broadcast(a), F.col("da") < F.col("db"))
        .agg(F.sum(F.expr(
            "CASE WHEN xb > xa THEN 1 WHEN xb < xa THEN -1 ELSE 0 END"
        )).alias("s"))
    )
    n_row = daily.agg(F.count("*").alias("n"))
    tie_row = (
        daily.groupBy("x").agg(F.count("*").alias("t"))
        .agg(F.sum(F.expr(
            "CAST(t AS DECIMAL(28,0)) * (t - 1) * (2 * t + 5)"
        )).cast("long").alias("tie18"))
    )
    return (
        s_row.crossJoin(F.broadcast(n_row)).crossJoin(F.broadcast(tie_row))
        .selectExpr(
            "n AS n_days",
            "s AS s_stat",
            "CAST(n AS BIGINT) * (n - 1) * (2 * n + 5) - tie18 AS var18",
            "CASE WHEN n * CAST(n - 1 AS BIGINT) * (2 * n + 5) - tie18 = 0 THEN 0"
            " ELSE CAST(floor((CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1"
            " ELSE 0 END) * 1000.0 / sqrt((n * CAST(n - 1 AS BIGINT) * (2 * n + 5)"
            " - tie18) / 18.0)) AS BIGINT) END AS z_milli",
        )
    )


Q_MANN_KENDALL_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), s_row AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day_ms < b.day_ms
), n_row AS (
  SELECT COUNT(*) AS n FROM daily
), tie_row AS (
  SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY x)
)
SELECT n AS n_days,
       s AS s_stat,
       CAST(n AS BIGINT) * (n - 1) * (2 * n + 5) - tie18 AS var18,
       CASE WHEN n * CAST(n - 1 AS BIGINT) * (2 * n + 5) - tie18 = 0 THEN 0
       ELSE CAST(floor((CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1
            ELSE 0 END) * 1000.0 / sqrt((n * CAST(n - 1 AS BIGINT) * (2 * n + 5)
            - tie18) / 18.0)) AS BIGINT) END AS z_milli
FROM s_row, n_row, tie_row
"""


# --- distribution drift: total variation distance ----------------------------
# Did the event-value distribution shift between the first and second half
# of the time range? TVD = 1/2 * sum_bands |p - q|, kept exact as
# sum |c1*n2 - c2*n1| over $5 value bands; only the final ratio divides
# (integer div, DECIMAL-widened so 100x the rows still can't overflow).

_BAND_CENTS = 500


def q_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "unix_millis(ts) AS ts_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    bounds = ev.agg(
        F.min("ts_ms").alias("mn"), F.max("ts_ms").alias("mx"))
    banded = ev.crossJoin(F.broadcast(bounds)).selectExpr(
        f"cents div {_BAND_CENTS} AS band",
        "CAST(ts_ms >= (mn + mx) div 2 AS INT) AS late",
    )
    g = banded.groupBy("band").agg(
        F.sum(F.expr("1 - late")).alias("c1"),
        F.sum("late").alias("c2"),
    )
    tot = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").alias("n_bands"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.sum(F.expr(
                "abs(CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1)"
            )).alias("num"),
        )
        .selectExpr(
            "n_bands", "n1", "n2",
            "CAST(CAST(num AS DECIMAL(38,0)) * 1000000"
            " div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS tvd_micro",
        )
    )


Q_TVD_ORACLE = f"""
WITH ev AS (
  SELECT epoch_ms(ts) AS ts_ms, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), bounds AS (
  SELECT MIN(ts_ms) AS mn, MAX(ts_ms) AS mx FROM ev
), banded AS (
  SELECT cents // {_BAND_CENTS} AS band,
         CAST(ts_ms >= (mn + mx) // 2 AS INT) AS late
  FROM ev CROSS JOIN bounds
), g AS (
  SELECT band, SUM(1 - late) AS c1, SUM(late) AS c2 FROM banded GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM g
)
SELECT COUNT(*) AS n_bands, MAX(n1) AS n1, MAX(n2) AS n2,
       CAST(SUM(abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1))
            * 1000000 // (2 * CAST(MAX(n1) AS HUGEINT) * MAX(n2)) AS BIGINT)
       AS tvd_micro
FROM g CROSS JOIN tot
"""


# --- max drawdown over the daily revenue series ------------------------------
# Largest peak-to-trough drop of daily order revenue: running max minus
# current, argmax with earliest-day tie-break. Both windows run over the
# calendar-bounded daily aggregate (same justification as CUSUM).

def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak", F.max("x").over(w)).withColumn(
        "dd", F.col("peak") - F.col("x"))
    best = Window.orderBy(F.desc("dd"), "day_ms")
    return (
        dd.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .selectExpr(
            "day_ms AS trough_day_ms",
            "peak AS peak_cents",
            "x AS trough_cents",
            "dd AS drawdown_cents",
        )
    )


Q_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), dd AS (
  SELECT day_ms, x,
         MAX(x) OVER (ORDER BY day_ms ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS peak
  FROM daily
)
SELECT day_ms AS trough_day_ms, peak AS peak_cents, x AS trough_cents,
       peak - x AS drawdown_cents
FROM dd
ORDER BY peak - x DESC, day_ms
LIMIT 1
"""


# --- Gini-Simpson diversity of the corpus source mix -------------------------
# Per language: how concentrated is the source mix? Gini-Simpson
# 1 - sum p_i^2 and the "effective number of sources" n^2 / sum c_i^2,
# both exact integer ratios (the log-free diversity family — entropy
# needs ln, whose rounding is NOT portable across engines; 1/sum p^2 is).

def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source").agg(F.count("*").alias("c"))
    )
    per_lang = g.groupBy("lang").agg(
        F.count("*").alias("n_sources"),
        F.sum("c").alias("n_docs"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("ssq"),
    )
    return per_lang.selectExpr(
        "lang", "n_sources", "n_docs",
        "CAST((CAST(n_docs AS DECIMAL(38,0)) * n_docs - ssq) * 1000000"
        " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
        " AS gini_simpson_micro",
        "CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000 div ssq AS BIGINT)"
        " AS effective_sources_milli",
    )


Q_SIMPSON_ORACLE = """
WITH g AS (
  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
), per_lang AS (
  SELECT lang, COUNT(*) AS n_sources, CAST(SUM(c) AS BIGINT) AS n_docs,
         SUM(CAST(c AS HUGEINT) * c) AS ssq
  FROM g GROUP BY 1
)
SELECT lang, n_sources, n_docs,
       CAST((CAST(n_docs AS HUGEINT) * n_docs - ssq) * 1000000
            // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
       AS gini_simpson_micro,
       CAST(CAST(n_docs AS HUGEINT) * n_docs * 1000 // ssq AS BIGINT)
       AS effective_sources_milli
FROM per_lang
"""


# --- churn-label construction ------------------------------------------------
# Leakage-safe supervised labels: features from the first 70% of the time
# range (observation window), label = "came back" in the last 30%
# (holdout). Population = users active in the observation window. Two
# keyed rollups on the same user_id shuffle key + one equi-join; the only
# nested loop is the broadcast of the 1-row time bounds.

def pipeline_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms")
    bounds = ev.agg(F.min("ts_ms").alias("mn"), F.max("ts_ms").alias("mx")) \
        .selectExpr("mn + (mx - mn) * 7 div 10 AS t_split")
    stamped = ev.crossJoin(F.broadcast(bounds))
    obs = (
        stamped.where("ts_ms < t_split")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events_obs"),
            F.expr(f"COUNT(DISTINCT ts_ms div {DAY_MS})").alias("active_days"),
            F.countDistinct("event_type").alias("n_types"),
            F.expr(f"CAST((MAX(t_split) - MAX(ts_ms)) div {DAY_MS} AS BIGINT)")
            .alias("recency_days"),
        )
    )
    fut = stamped.where("ts_ms >= t_split").select("user_id").distinct() \
        .withColumn("returned", F.lit(1))
    return (
        obs.join(fut, "user_id", "left")
        .selectExpr(
            "user_id", "n_events_obs", "active_days", "n_types",
            "recency_days", "CAST(coalesce(returned, 0) AS INT) AS label",
        )
    )


Q_CHURN_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), bounds AS (
  SELECT MIN(ts_ms) + (MAX(ts_ms) - MIN(ts_ms)) * 7 // 10 AS t_split FROM ev
), stamped AS (
  SELECT * FROM ev CROSS JOIN bounds
), obs AS (
  SELECT user_id, COUNT(*) AS n_events_obs,
         COUNT(DISTINCT ts_ms // {DAY_MS}) AS active_days,
         COUNT(DISTINCT event_type) AS n_types,
         CAST((MAX(t_split) - MAX(ts_ms)) // {DAY_MS} AS BIGINT) AS recency_days
  FROM stamped WHERE ts_ms < t_split GROUP BY 1
), fut AS (
  SELECT DISTINCT user_id, 1 AS returned
  FROM stamped WHERE ts_ms >= t_split
)
SELECT obs.user_id, n_events_obs, active_days, n_types, recency_days,
       CAST(coalesce(returned, 0) AS INT) AS label
FROM obs LEFT JOIN fut ON obs.user_id = fut.user_id
"""


# --- forecast baseline evaluation --------------------------------------------
# Which forecasting baseline does the daily revenue series support: naive
# (yesterday) or seasonal-naive (same weekday last week)? MAE in exact
# cents over the days where both forecasts exist; calendar gaps drop out
# of the equi-join (no row-lag ambiguity). The shifted copies broadcast —
# the daily series is calendar-bounded.

def q_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    prev1 = daily.selectExpr(f"day_ms + {DAY_MS} AS day_ms", "x AS x1")
    prev7 = daily.selectExpr(f"day_ms + {7 * DAY_MS} AS day_ms", "x AS x7")
    joined = daily.join(F.broadcast(prev1), "day_ms").join(
        F.broadcast(prev7), "day_ms")
    return (
        joined.agg(
            F.count("*").alias("n_days_eval"),
            F.sum(F.expr("CAST(abs(x - x1) AS DECIMAL(28,0))"))
            .cast("long").alias("abs_err_naive"),
            F.sum(F.expr("CAST(abs(x - x7) AS DECIMAL(28,0))"))
            .cast("long").alias("abs_err_snaive"),
        )
        .selectExpr(
            "n_days_eval",
            "abs_err_naive div n_days_eval AS mae_naive_cents",
            "abs_err_snaive div n_days_eval AS mae_snaive_cents",
            "CASE WHEN abs_err_snaive < abs_err_naive THEN 'seasonal_naive'"
            " WHEN abs_err_naive < abs_err_snaive THEN 'naive'"
            " ELSE 'tie' END AS winner",
        )
    )


Q_FORECAST_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), joined AS (
  SELECT d.x, p1.x AS x1, p7.x AS x7
  FROM daily d
  JOIN daily p1 ON d.day_ms = p1.day_ms + {DAY_MS}
  JOIN daily p7 ON d.day_ms = p7.day_ms + {7 * DAY_MS}
), s AS (
  SELECT COUNT(*) AS n_days_eval,
         CAST(SUM(CAST(abs(x - x1) AS HUGEINT)) AS BIGINT) AS abs_err_naive,
         CAST(SUM(CAST(abs(x - x7) AS HUGEINT)) AS BIGINT) AS abs_err_snaive
  FROM joined
)
SELECT n_days_eval,
       abs_err_naive // n_days_eval AS mae_naive_cents,
       abs_err_snaive // n_days_eval AS mae_snaive_cents,
       CASE WHEN abs_err_snaive < abs_err_naive THEN 'seasonal_naive'
       WHEN abs_err_naive < abs_err_snaive THEN 'naive'
       ELSE 'tie' END AS winner
FROM s
"""


# --- one-way ANOVA ------------------------------------------------------------
# Does mean event value differ across event types? F-statistic from
# exact per-group integer moments (n_g, sum, sum-of-squares). s_g^2/n_g
# is irrational in general, so each group's between-term is FLOORED to an
# integer first (deterministic double over exact BIGINTs), then the
# floored terms sum exactly — the chi-square house pattern. floor (not
# round): half-way rounding of doubles is not specified identically
# across engines.

def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "events")
        .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS cents")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_g"),
            F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s_g"),
            F.sum(F.expr("CAST(cents AS DECIMAL(28,0)) * cents")).cast("long")
            .alias("ss_g"),
        )
    )
    agg = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0))")).cast("long").alias("s"),
        F.sum(F.expr("CAST(ss_g AS DECIMAL(38,0))")).cast("long").alias("ss"),
        F.sum(F.expr(
            "CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g) AS DECIMAL(38,0))"
        )).cast("long").alias("sb_terms"),
    )
    return agg.selectExpr(
        "k", "n",
        "sb_terms - CAST(floor(CAST(s AS DOUBLE) * s / n) AS BIGINT) AS ssb",
        "ss - sb_terms AS ssw",
        "CAST(floor((CAST(sb_terms - CAST(floor(CAST(s AS DOUBLE) * s / n)"
        " AS BIGINT) AS DOUBLE) / (k - 1))"
        " / (CAST(ss - sb_terms AS DOUBLE) / (n - k)) * 1000) AS BIGINT)"
        " AS f_milli",
    )


Q_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type, COUNT(*) AS n_g,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS s_g,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
              * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss_g
  FROM events GROUP BY 1
), agg AS (
  SELECT COUNT(*) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(CAST(s_g AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(ss_g AS HUGEINT)) AS BIGINT) AS ss,
         CAST(SUM(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g) AS HUGEINT))
              AS BIGINT) AS sb_terms
  FROM g
)
SELECT k, n,
       sb_terms - CAST(floor(CAST(s AS DOUBLE) * s / n) AS BIGINT) AS ssb,
       ss - sb_terms AS ssw,
       CAST(floor((CAST(sb_terms - CAST(floor(CAST(s AS DOUBLE) * s / n)
        AS BIGINT) AS DOUBLE) / (k - 1))
        / (CAST(ss - sb_terms AS DOUBLE) / (n - k)) * 1000) AS BIGINT)
       AS f_milli
FROM agg
"""


# --- Poisson-bootstrap confidence interval -----------------------------------
# The scale-idiomatic bootstrap: true multinomial resampling needs a
# global draw, but Poisson(1) per-row counts approximate it with NO
# coordination — each row decides its own replica multiplicities from a
# hash (the standard trick for CIs over 100 TB; one map-side explode,
# one 32-group aggregate). ONE md5 per row; the 32 replica draws derive
# via the arithmetic hash family (mod 2^61-1 — 5x cheaper than 32 md5s,
# measured), compared against floor(CDF_k * (2^61-1)) literals of the
# Poisson(1) CDF — pure integer, so the oracle replays the identical draw.

_B = 32  # bootstrap replicas
_POIS_T = [848272237658610688, 1696544475317221376, 2120680594146526720,
           2262059300422961920, 2297403976992070656, 2304472912305892352,
           2305651068191529216, 2305819376175191552]  # floor(CDF_k * (2^61-1))


def _pois_case(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    return f"CASE {whens} ELSE {len(_POIS_T)} END"


_M61 = (1 << 61) - 1
_LO30 = (1 << 30) - 1


def _boot_family(n: int) -> list[tuple[int, int, int]]:
    """(A, B, C) triples with A, B in [2^30, 2^31): A*lo and B*hi then SPAN
    [0, 2^61) before the mod, so each member is range-uniform — the
    minhash family in functions/hashing.py only guarantees rank-
    usefulness (small A caps the range), which a threshold comparison
    against an absolute CDF cut cannot tolerate."""
    out = []
    x = 987654321
    def step() -> int:
        nonlocal x
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return x >> 16
    for _ in range(n):
        a = (1 << 30) + step() % (1 << 30)
        b = (1 << 30) + step() % (1 << 30)
        c = step() % _M61
        out.append((a, b, c))
    return out


def _boot_member(h: str, abc: tuple[int, int, int], spark_side: bool) -> str:
    a, b, c = abc
    hi = f"shiftright({h}, 30)" if spark_side else f"({h} >> 30)"
    return f"(({a} * ({h} & {_LO30}) + {b} * {hi} + {c}) % {_M61})"


def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    fam = _boot_family(_B)
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        portable_hash64(F.col("o_orderkey").cast("string")).alias("h"),
    )
    # One pass, no row multiplication: the 32 replica draws become 64
    # aggregate columns of a single map-side-combinable HashAggregate
    # (a posexplode to 32x rows fed the same 32-group agg before —
    # paying 32x row materialization plus the generate-filter hazard;
    # measured 3.8 s -> ~0.4 s at sf0.1). The 1-row result unpivots to
    # 32 replica rows via stack(), driver-scale.
    # r10 (guide §1.1/§1.2): each hash-family member u_r is computed
    # ONCE per row in a projection — `_pois_case(u)` repeats its
    # argument text in all 8 WHEN branches, so inlining the member
    # expression put 8 copies of the mod-arithmetic tree into every
    # CASE x 64 aggregate expressions (~340 KB plan text). With u_r as
    # a column the CASE stays branch-short-circuited (most Poisson(1)
    # draws exit in 1-2 comparisons; an indicator-sum form that always
    # does all 8 comparisons measured 2.5x WORSE) and the plan tree
    # shrinks ~8x. Same-JVM alternating A/B at sf0.1: 2.11 -> 1.66 s
    # (-21%), every leg. Folding the grand mean into the same agg +
    # pinning the 1-row result measured neutral — grand stays a
    # separate cheap scan.
    rows = orders.select(
        "cents",
        *[F.expr(_boot_member("h", abc, True)).alias(f"u{r}")
          for r, abc in enumerate(fam)])
    aggs = []
    for r in range(_B):
        w = _pois_case(f"u{r}")
        aggs.append(
            F.sum(F.expr(f"CAST({w} AS DECIMAL(28,0)) * cents"))
            .cast("long").alias(f"ws{r}"))
        aggs.append(F.sum(F.expr(w)).alias(f"wn{r}"))
    one = rows.agg(*aggs)
    stack_args = ", ".join(f"{r}, ws{r}, wn{r}" for r in range(_B))
    means = one.selectExpr(
        f"stack({_B}, {stack_args}) AS (r, ws, wn)"
    ).selectExpr("r", "ws * 1000 div wn AS mean_milli")
    rk = Window.orderBy("mean_milli", "r")
    picked = means.withColumn("rk", F.row_number().over(rk)).where(
        F.col("rk").isin(2, _B - 1))
    grand = orders.agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s"),
        F.count("*").alias("n"),
    ).selectExpr("s * 1000 div n AS full_mean_milli")
    return (
        picked.groupBy()
        .agg(F.min("mean_milli").alias("ci_lo_milli"),
             F.max("mean_milli").alias("ci_hi_milli"))
        .crossJoin(F.broadcast(grand))
        .selectExpr(f"{_B} AS n_replicas", "ci_lo_milli", "ci_hi_milli",
                    "full_mean_milli")
    )


_POIS_CASE_SQL = _pois_case("u")

from ..functions.hashing import portable_hash64_sql as _ph64_sql  # noqa: E402

_BOOT_H = _ph64_sql("CAST(o_orderkey AS VARCHAR)")
_BOOT_MEMBERS = ", ".join(
    _boot_member("h", abc, False) for abc in _boot_family(_B))

Q_BOOTSTRAP_ORACLE = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         {_BOOT_H} AS h
  FROM orders
), rep AS (
  SELECT cents,
         generate_subscripts([{_BOOT_MEMBERS}], 1) - 1 AS r,
         unnest([{_BOOT_MEMBERS}]) AS u
  FROM o
), means AS (
  SELECT r,
         CAST(SUM(CAST({_POIS_CASE_SQL} AS HUGEINT) * cents) AS BIGINT)
           * 1000 // CAST(SUM({_POIS_CASE_SQL}) AS BIGINT) AS mean_milli
  FROM rep GROUP BY r
), ranked AS (
  SELECT mean_milli, row_number() OVER (ORDER BY mean_milli, r) AS rk
  FROM means
), grand AS (
  SELECT CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
         AS full_mean_milli
  FROM o
)
SELECT {_B} AS n_replicas,
       MIN(mean_milli) AS ci_lo_milli,
       MAX(mean_milli) AS ci_hi_milli,
       MAX(full_mean_milli) AS full_mean_milli
FROM ranked CROSS JOIN grand
WHERE rk IN (2, {_B - 1})
"""


# --- triangle counting on the co-purchase graph -------------------------------
# Global clustering of "bought together": triangles via DEGREE-ORDERED
# edge orientation (each undirected edge points from the lower (deg, id)
# endpoint), so every wedge is generated at its smallest vertex and
# out-degrees are O(sqrt(m)) — the standard distributed-triangle trick
# that keeps hub parts from exploding the wedge join. Two equi-joins:
# wedge build on src, closure check on (b, c).

def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    # NOTE: edges feed three consumers; measured at sf0.1, recomputing the
    # explode+distinct per consumer beats localCheckpoint materialization
    # under AQE (5.1s vs 9.0s) — lineage truncation is NOT free.
    deg = (
        edges.selectExpr("pa AS v").unionAll(edges.selectExpr("pb AS v"))
        .groupBy("v").agg(F.count("*").alias("d"))
    )
    oriented = (
        edges
        .join(F.broadcast(deg.selectExpr("v AS pa", "d AS da")), "pa")
        .join(F.broadcast(deg.selectExpr("v AS pb", "d AS db")), "pb")
        .selectExpr(
            "CASE WHEN da < db OR (da = db AND pa < pb) THEN pa ELSE pb END AS src",
            "CASE WHEN da < db OR (da = db AND pa < pb) THEN db ELSE da END AS dd",
            "CASE WHEN da < db OR (da = db AND pa < pb) THEN pb ELSE pa END AS dst",
            "CASE WHEN da < db OR (da = db AND pa < pb) THEN da ELSE db END AS ds",
        )
        .selectExpr("src", "dst", "ds AS d_src", "dd AS d_dst")
    )
    # edge-iterator closure: per oriented edge (u, v), triangles through it
    # are |N+(u) ∩ N+(v)|. The sorted adjacency arrays are bounded by the
    # orientation out-degree (O(sqrt m)), and the intersection happens
    # MAP-SIDE inside array_intersect — no materialized wedge set, which a
    # dense co-purchase graph would blow into ~100M rows (measured: this
    # formulation cut the query from 8.8s to the cost of two adjacency
    # joins at sf0.1).
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs"))
    closed = (
        oriented.select("src", "dst")
        .join(adj.selectExpr("src", "nbrs AS nu"), "src")
        .join(adj.selectExpr("src AS dst", "nbrs AS nv"), "dst")
        .selectExpr("size(array_intersect(nu, nv)) AS t")
    )
    n_tri = closed.agg(
        F.sum(F.expr("CAST(t AS DECIMAL(28,0))")).cast("long")
        .alias("n_triangles"))
    n_edge = edges.agg(F.count("*").alias("n_edges"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("CAST(d AS DECIMAL(28,0)) * (d - 1) div 2")).cast("long")
        .alias("n_wedges"),
    )
    return (
        n_tri.crossJoin(F.broadcast(n_edge)).crossJoin(F.broadcast(stats))
        .selectExpr(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            "n_triangles * 3000 div n_wedges AS clustering_milli",
        )
    )


Q_TRIANGLE_ORACLE = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS pa, c.l_partkey AS pb
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT pa AS v FROM edges UNION ALL SELECT pb FROM edges
  ) GROUP BY 1
), oriented AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb)
              THEN pa ELSE pb END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb)
              THEN pb ELSE pa END AS dst,
         CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb)
              THEN db.d ELSE da.d END AS d_dst
  FROM edges JOIN deg da ON da.v = pa JOIN deg db ON db.v = pb
), wedges AS (
  SELECT e1.dst AS b, e2.dst AS c
  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
  WHERE e1.d_dst < e2.d_dst OR (e1.d_dst = e2.d_dst AND e1.dst < e2.dst)
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges w WHERE EXISTS (
    SELECT 1 FROM oriented o WHERE o.src = w.b AND o.dst = w.c)
), es AS (
  SELECT COUNT(*) AS n_edges FROM edges
), ds AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(CAST(d AS HUGEINT) * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       n_triangles * 3000 // n_wedges AS clustering_milli
FROM tri, es, ds
"""


SPECS += [
    QuerySpec("q_spearman_corr", q_spearman_corr, Q_SPEARMAN_ORACLE,
              "tie-averaged Spearman rho via value-sharded distributed ranks",
              ("analytics", "stats", "rank")),
    QuerySpec("q_mann_kendall_trend", q_mann_kendall_trend, Q_MANN_KENDALL_ORACLE,
              "Mann-Kendall trend test over the daily revenue series",
              ("analytics", "stats")),
    QuerySpec("q_tvd_drift", q_tvd_drift, Q_TVD_ORACLE,
              "total-variation drift between first/second-half value bands",
              ("analytics", "stats", "drift")),
    QuerySpec("q_max_drawdown", q_max_drawdown, Q_DRAWDOWN_ORACLE,
              "max peak-to-trough drawdown of daily revenue",
              ("analytics", "timeseries")),
    QuerySpec("q_simpson_diversity", q_simpson_diversity, Q_SIMPSON_ORACLE,
              "log-free Gini-Simpson diversity of the per-lang source mix",
              ("analytics", "text", "stats")),
    QuerySpec("pipeline_churn_labels", pipeline_churn_labels, Q_CHURN_ORACLE,
              "leakage-safe churn-label construction (70/30 time split)",
              ("pipeline", "trainprep")),
    QuerySpec("q_forecast_baseline", q_forecast_baseline, Q_FORECAST_ORACLE,
              "naive vs seasonal-naive MAE over the daily revenue series",
              ("analytics", "timeseries")),
    QuerySpec("q_anova_oneway", q_anova_oneway, Q_ANOVA_ORACLE,
              "one-way ANOVA F from exact per-group integer moments",
              ("analytics", "stats")),
    QuerySpec("q_poisson_bootstrap_ci", q_poisson_bootstrap_ci,
              Q_BOOTSTRAP_ORACLE,
              "coordination-free Poisson-bootstrap CI for the mean",
              ("analytics", "stats", "sampling")),
    QuerySpec("graph_triangle_count", graph_triangle_count, Q_TRIANGLE_ORACLE,
              "degree-ordered distributed triangle count + clustering",
              ("analytics", "graph")),
]


# --- seasonal decomposition of the daily revenue series -----------------------
# Classical additive decompose, integer-exact: trend = centered 7-row
# moving sum div 7 (NULL until the window is full — no partial-window
# estimates), seasonal = per-weekday floored mean of the detrended
# series, residual = remainder. Weekday comes from portable epoch
# arithmetic (epoch day 0 was a Thursday), never an engine dow().
# Windows run over the calendar-bounded daily aggregate; the 7-row
# seasonal map broadcasts back.

def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    w7 = Window.orderBy("day_ms").rowsBetween(-3, 3)
    trended = daily.select(
        "day_ms", "x",
        F.when(F.count("x").over(w7) == 7,
               F.expr("1") * F.sum("x").over(w7)).alias("s7"),
    ).selectExpr(
        "day_ms", "x", "s7 div 7 AS trend",
        f"pmod(day_ms div {DAY_MS} + 4, 7) AS dow",
    ).selectExpr("day_ms", "x", "trend", "dow", "x - trend AS detr")
    seasonal = trended.where("detr IS NOT NULL").groupBy("dow").agg(
        F.expr("sum(detr) div count(*)").alias("seasonal"))
    return (
        trended.join(F.broadcast(seasonal), "dow")
        .selectExpr("day_ms", "x", "trend", "seasonal",
                    "detr - seasonal AS residual")
    )


Q_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), trended AS (
  SELECT day_ms, x,
         CAST(CASE WHEN COUNT(x) OVER w = 7 THEN SUM(x) OVER w END // 7 AS BIGINT) AS trend,
         (day_ms // {DAY_MS} + 4) % 7 AS dow
  FROM daily
  WINDOW w AS (ORDER BY day_ms ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detrended AS (
  SELECT day_ms, x, trend, dow, x - trend AS detr FROM trended
), seasonal AS (
  SELECT dow, CAST(SUM(detr) // COUNT(*) AS BIGINT) AS seasonal
  FROM detrended WHERE detr IS NOT NULL GROUP BY 1
)
SELECT day_ms, x, trend, s.seasonal, CAST(detr - s.seasonal AS BIGINT) AS residual
FROM detrended d JOIN seasonal s ON d.dow = s.dow
"""


SPECS += [
    QuerySpec("q_seasonal_decompose", q_seasonal_decompose, Q_SEASONAL_ORACLE,
              "integer-exact additive trend/seasonal/residual decompose",
              ("analytics", "timeseries")),
]


# --- monthly price index (Laspeyres + Paasche) --------------------------------
# The econ-team staple: how did prices move vs the base month, holding
# the basket fixed (Laspeyres, base-month quantities) or current
# (Paasche)? Unit prices are floored milli-cents from exact sums
# (sum_cents*1000 div sum_qty), the index is an exact integer ratio in
# micros over the parts present in BOTH months. One (month, part)
# rollup shuffle; the base-month map broadcasts (bounded by |parts|).

def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.unix_millis(F.date_trunc("MONTH", "l_shipdate")).alias("month_ms"),
        F.col("l_partkey").alias("part"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    per_mp = li.groupBy("month_ms", "part").agg(
        F.sum(F.expr("CAST(qty AS DECIMAL(28,0))")).cast("long").alias("q"),
        F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("c"),
    ).selectExpr("month_ms", "part", "q", "c * 1000 div q AS p")
    base_month = per_mp.agg(F.min("month_ms").alias("bm"))
    base = (
        per_mp.crossJoin(F.broadcast(base_month))
        .where("month_ms = bm")
        .selectExpr("part", "p AS p0", "q AS q0")
    )
    joined = per_mp.join(F.broadcast(base), "part")
    return (
        joined.groupBy("month_ms")
        .agg(
            F.count("*").alias("n_parts_common"),
            F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * q0")).alias("l_num"),
            F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q0")).alias("l_den"),
            F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * q")).alias("p_num"),
            F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q")).alias("p_den"),
        )
        .selectExpr(
            "month_ms", "n_parts_common",
            "CAST(l_num * 1000000 div l_den AS BIGINT) AS laspeyres_micro",
            "CAST(p_num * 1000000 div p_den AS BIGINT) AS paasche_micro",
        )
    )


Q_PRICE_INDEX_ORACLE = """
WITH li AS (
  SELECT epoch_ms(date_trunc('month', l_shipdate)) AS month_ms,
         l_partkey AS part,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), per_mp AS (
  SELECT month_ms, part,
         CAST(SUM(CAST(qty AS HUGEINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000
           // CAST(SUM(CAST(qty AS HUGEINT)) AS BIGINT) AS p
  FROM li GROUP BY 1, 2
), base AS (
  SELECT part, p AS p0, q AS q0 FROM per_mp
  WHERE month_ms = (SELECT MIN(month_ms) FROM per_mp)
)
SELECT month_ms, COUNT(*) AS n_parts_common,
       CAST(SUM(CAST(p AS HUGEINT) * q0) * 1000000
            // SUM(CAST(p0 AS HUGEINT) * q0) AS BIGINT) AS laspeyres_micro,
       CAST(SUM(CAST(p AS HUGEINT) * q) * 1000000
            // SUM(CAST(p0 AS HUGEINT) * q) AS BIGINT) AS paasche_micro
FROM per_mp JOIN base USING (part)
GROUP BY 1
"""


# --- event-study lift around the peak day -------------------------------------
# Did the spike day pull demand forward or ride a genuinely hotter week?
# Peak day = argmax daily revenue (earliest-day tie-break, 1-row
# broadcast); the ±3-day event window's floored mean daily revenue vs
# the all-other-days baseline, as an exact micro ratio.

_STUDY_HALF_DAYS = 3


def q_event_study_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    best = Window.orderBy(F.desc("x"), "day_ms")
    peak = daily.withColumn("rk", F.row_number().over(best)).where(
        "rk = 1").selectExpr("day_ms AS peak_day_ms")
    half = _STUDY_HALF_DAYS * DAY_MS
    return (
        daily.crossJoin(F.broadcast(peak))
        .selectExpr(
            "peak_day_ms", "x",
            f"CAST(abs(day_ms - peak_day_ms) <= {half} AS INT) AS in_win",
        )
        .groupBy("peak_day_ms")
        .agg(
            F.sum("in_win").alias("n_window_days"),
            F.sum(F.expr("1 - in_win")).alias("n_baseline_days"),
            F.sum(F.expr("CAST(x * in_win AS DECIMAL(28,0))")).cast("long")
            .alias("ws"),
            F.sum(F.expr("CAST(x * (1 - in_win) AS DECIMAL(28,0))")).cast("long")
            .alias("bs"),
        )
        .selectExpr(
            "peak_day_ms", "n_window_days", "n_baseline_days",
            "ws div n_window_days AS window_mean_cents",
            # degenerate calendar (event span <= window width -> zero baseline
            # days): guard explicitly so both engines emit NULL instead of
            # Spark-NULL-vs-DuckDB-error divergence.
            "CASE WHEN n_baseline_days = 0 THEN NULL"
            " ELSE bs div n_baseline_days END AS baseline_mean_cents",
            "CASE WHEN n_baseline_days = 0 OR bs div n_baseline_days = 0"
            " THEN NULL"
            " ELSE CAST(CAST(ws div n_window_days AS DECIMAL(38,0)) * 1000000"
            " div (bs div n_baseline_days) AS BIGINT) END AS lift_micro",
        )
    )


Q_EVENT_STUDY_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM events GROUP BY 1
), peak AS (
  SELECT day_ms AS peak_day_ms FROM daily ORDER BY x DESC, day_ms LIMIT 1
), marked AS (
  SELECT peak_day_ms, x,
         CAST(abs(day_ms - peak_day_ms) <= {_STUDY_HALF_DAYS * DAY_MS} AS INT)
           AS in_win
  FROM daily CROSS JOIN peak
), agg AS (
  SELECT peak_day_ms,
         CAST(SUM(in_win) AS BIGINT) AS n_window_days,
         CAST(SUM(1 - in_win) AS BIGINT) AS n_baseline_days,
         CAST(SUM(CAST(x * in_win AS HUGEINT)) AS BIGINT) AS ws,
         CAST(SUM(CAST(x * (1 - in_win) AS HUGEINT)) AS BIGINT) AS bs
  FROM marked GROUP BY 1
)
SELECT peak_day_ms, n_window_days, n_baseline_days,
       ws // n_window_days AS window_mean_cents,
       CASE WHEN n_baseline_days = 0 THEN NULL
            ELSE bs // n_baseline_days END AS baseline_mean_cents,
       CASE WHEN n_baseline_days = 0 OR bs // n_baseline_days = 0 THEN NULL
            ELSE CAST(CAST(ws // n_window_days AS HUGEINT) * 1000000
                      // (bs // n_baseline_days) AS BIGINT) END AS lift_micro
FROM agg
"""


SPECS += [
    QuerySpec("q_price_index", q_price_index, Q_PRICE_INDEX_ORACLE,
              "Laspeyres + Paasche monthly price index, exact micro ratios",
              ("analytics", "finance")),
    QuerySpec("q_event_study_lift", q_event_study_lift, Q_EVENT_STUDY_ORACLE,
              "event-study lift of the peak day vs baseline, exact ratios",
              ("analytics", "timeseries")),
]


# --- ABC revenue classification -----------------------------------------------
# Inventory-style ABC: parts covering the first 80% of revenue are 'A',
# the next 15% 'B', the tail 'C'. Needs every part's CUMULATIVE revenue
# share in descending order — the value-sharded distributed rank
# machinery again (descending shards this time): per-shard revenue
# subtotals prefix-sum on the broadcast side, so the cumulative total
# each part inherits is exact without any single-partition window.

def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.expr(
            "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(28,0))"
        )).cast("long").alias("rev"))
    )
    tot = rev.agg(
        F.sum(F.expr("CAST(rev AS DECIMAL(38,0))")).cast("long").alias("total"))
    # descending shards: bigger revenue -> smaller shard id
    sharded = rev.withColumn("shard", F.expr("-(rev div 1000000)"))
    w_in = Window.partitionBy("shard").orderBy(
        F.desc("rev"), "l_partkey").rowsBetween(Window.unboundedPreceding, 0)
    local = sharded.withColumn("cum_in", F.sum("rev").over(w_in))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        sharded.groupBy("shard").agg(
            F.sum(F.expr("CAST(rev AS DECIMAL(38,0))")).cast("long").alias("s"))
        .withColumn("base", F.coalesce(F.sum("s").over(w_sh), F.lit(0)))
        .select("shard", "base")
    )
    classed = (
        local.join(F.broadcast(bases), "shard")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "rev",
            "CASE WHEN (base + cum_in) * 100 <= total * 80 THEN 'A'"
            " WHEN (base + cum_in) * 100 <= total * 95 THEN 'B'"
            " ELSE 'C' END AS abc",
            "total",
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.expr("CAST(rev AS DECIMAL(38,0))")).cast("long")
            .alias("revenue_cents"),
            F.max("total").alias("t"),
        )
        .selectExpr(
            "abc", "n_parts", "revenue_cents",
            "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000 div t AS BIGINT)"
            " AS share_micro",
        )
    )


Q_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(CAST(rev AS HUGEINT)) AS BIGINT) AS total FROM rev
), ranked AS (
  SELECT rev, total,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rev CROSS JOIN tot
), classed AS (
  SELECT rev, total,
         CASE WHEN cum * 100 <= total * 80 THEN 'A'
              WHEN cum * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, COUNT(*) AS n_parts,
       CAST(SUM(CAST(rev AS HUGEINT)) AS BIGINT) AS revenue_cents,
       CAST(CAST(CAST(SUM(CAST(rev AS HUGEINT)) AS BIGINT) AS HUGEINT) * 1000000
         // MAX(total) AS BIGINT) AS share_micro
FROM classed GROUP BY 1
"""


# --- XmR control chart (statistical process control) --------------------------
# Shewhart individuals chart over daily revenue: center = floored mean,
# natural process limits = mean +/- 2.66 * mean moving range (the 2.66
# constant scaled to exact integer arithmetic: limits in milli-cents,
# x2660 factor). Output: the limits and the out-of-control day count —
# the "did the process shift" readout, integer end-to-end.

def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    w = Window.orderBy("day_ms")
    mr = daily.withColumn("prev", F.lag("x").over(w)).selectExpr(
        "day_ms", "x", "abs(x - prev) AS mr")
    stats = mr.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).cast("long").alias("sx"),
        F.count("mr").alias("nmr"),
        F.sum(F.expr("CAST(mr AS DECIMAL(38,0))")).cast("long").alias("smr"),
    ).selectExpr(
        "n", "sx * 1000 div n AS center_milli",
        "(sx * 1000 div n) + 2660 * smr div nmr AS ucl_milli",
        "(sx * 1000 div n) - 2660 * smr div nmr AS lcl_milli",
    )
    return (
        mr.crossJoin(F.broadcast(stats))
        .agg(
            F.max("n").alias("n_days"),
            F.max("center_milli").alias("center_milli"),
            F.max("ucl_milli").alias("ucl_milli"),
            F.max("lcl_milli").alias("lcl_milli"),
            F.sum(F.expr(
                "CAST(x * 1000 > ucl_milli OR x * 1000 < lcl_milli AS BIGINT)"
            )).alias("n_out_of_control"),
        )
    )


Q_CONTROL_CHART_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), mr AS (
  SELECT day_ms, x, abs(x - lag(x) OVER (ORDER BY day_ms)) AS mr FROM daily
), stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
           AS center_milli,
         COUNT(mr) AS nmr,
         CAST(SUM(CAST(mr AS HUGEINT)) AS BIGINT) AS smr
  FROM mr
)
SELECT MAX(n) AS n_days,
       MAX(center_milli) AS center_milli,
       MAX(center_milli + 2660 * smr // nmr) AS ucl_milli,
       MAX(center_milli - 2660 * smr // nmr) AS lcl_milli,
       CAST(SUM(CAST(x * 1000 > center_milli + 2660 * smr // nmr
                OR x * 1000 < center_milli - 2660 * smr // nmr AS BIGINT))
            AS BIGINT) AS n_out_of_control
FROM mr CROSS JOIN stats
"""


SPECS += [
    QuerySpec("q_abc_analysis", q_abc_analysis, Q_ABC_ORACLE,
              "ABC revenue classes via descending sharded cumulative shares",
              ("analytics", "rank")),
    QuerySpec("q_control_chart", q_control_chart, Q_CONTROL_CHART_ORACLE,
              "XmR control chart limits + out-of-control days, integer-exact",
              ("analytics", "timeseries", "stats")),
]


# --- spatial radius self-join via grid blocking -------------------------------
# The geo family's core join, trig-free: points live on an integer
# meter grid (coords derived deterministically from the portable hash —
# the driver tables carry no geo columns), blocking cells are R-sized
# squares, and each point probes its 3x3 cell neighborhood map-side
# (explode of 9 offsets — no cross join anywhere). A pair is emitted
# once (probe side id < target id) and verified with the EXACT integer
# squared distance — no sqrt, no haversine (sin/cos rounding is not
# portable across engines; at city scale the planar grid is the
# standard first stage anyway, with great-circle verify only at the
# final filter on a real deployment).

_GEO_BOX = 100_000   # 100 km square, integer meters
_GEO_R = 500         # radius (= blocking cell size)


def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.pmod(portable_hash64(F.concat(F.lit("gx#"),
               F.col("c_custkey").cast("string"))), F.lit(_GEO_BOX)).alias("x"),
        F.pmod(portable_hash64(F.concat(F.lit("gy#"),
               F.col("c_custkey").cast("string"))), F.lit(_GEO_BOX)).alias("y"),
    )
    probes = pts.selectExpr(
        "id AS ida", "x AS xa", "y AS ya",
        f"explode(array({', '.join(f'struct({dx} AS dx, {dy} AS dy)' for dx in (-1, 0, 1) for dy in (-1, 0, 1))})) AS o",
    ).selectExpr(
        "ida", "xa", "ya",
        f"xa div {_GEO_R} + o.dx AS cx",
        f"ya div {_GEO_R} + o.dy AS cy",
    )
    targets = pts.selectExpr(
        "id AS idb", "x AS xb", "y AS yb",
        f"x div {_GEO_R} AS cx", f"y div {_GEO_R} AS cy")
    return (
        probes.join(targets, ["cx", "cy"])
        .where(f"ida < idb AND (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"
               f" <= {_GEO_R * _GEO_R}")
        .selectExpr(
            "ida", "idb",
            "(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS dist2")
    )


from ..functions.hashing import portable_hash64_sql as _geo_h  # noqa: E402

_GEO_KX = "concat('gx#', CAST(c_custkey AS VARCHAR))"
_GEO_KY = "concat('gy#', CAST(c_custkey AS VARCHAR))"
_GEO_X = f"({_geo_h(_GEO_KX)}) % {_GEO_BOX}"
_GEO_Y = f"({_geo_h(_GEO_KY)}) % {_GEO_BOX}"

GEO_RADIUS_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id, {_GEO_X} AS x, {_GEO_Y} AS y FROM customer
)
SELECT a.id AS ida, b.id AS idb,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM pts a JOIN pts b
  ON a.id < b.id
 AND abs(a.x // {_GEO_R} - b.x // {_GEO_R}) <= 1
 AND abs(a.y // {_GEO_R} - b.y // {_GEO_R}) <= 1
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_GEO_R * _GEO_R}
"""


SPECS += [
    QuerySpec("geo_radius_join", geo_radius_join, GEO_RADIUS_ORACLE,
              "grid-blocked spatial radius self-join, exact integer distances",
              ("analytics", "spatial", "join")),
]


# --- rate-limit / burst detection ---------------------------------------------
# Fraud-ops staple: which users ever exceeded K events inside any
# sliding 60 s window? Exact per-event lookback count via a RANGE frame
# over event time PARTITIONED BY user — state is bounded per user, and
# the window never leaves its user partition (scales with the user
# shuffle, not a global sort). Emits each offender's peak rate and when
# it happened (earliest peak, deterministic).

_RATE_WINDOW_MS = 60_000
_RATE_LIMIT = 2  # events arrive sparsely in the synthetic stream; 2-in-60s IS the burst


def q_rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms")
    w = (
        Window.partitionBy("user_id").orderBy("ts_ms")
        .rangeBetween(-(_RATE_WINDOW_MS - 1), 0)
    )
    counted = ev.withColumn("c60", F.count("*").over(w))
    peak = Window.partitionBy("user_id").orderBy(
        F.desc("c60"), "ts_ms")
    return (
        counted.withColumn("rk", F.row_number().over(peak))
        .where(f"rk = 1 AND c60 >= {_RATE_LIMIT}")
        .selectExpr("user_id", "c60 AS peak_count_60s", "ts_ms AS peak_at_ms")
    )


Q_RATE_LIMIT_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
), counted AS (
  SELECT user_id, ts_ms,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms
                        RANGE BETWEEN {_RATE_WINDOW_MS - 1} PRECEDING
                        AND CURRENT ROW) AS c60
  FROM ev
), ranked AS (
  SELECT user_id, ts_ms, c60,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c60 DESC, ts_ms) AS rk
  FROM counted
)
SELECT user_id, c60 AS peak_count_60s, ts_ms AS peak_at_ms
FROM ranked WHERE rk = 1 AND c60 >= {_RATE_LIMIT}
"""


# --- per-part price volatility top-k ------------------------------------------
# Which parts' prices swing the most? Exact integer variance numerator
# n*sum(x^2) - sum(x)^2 per part (the q_portable_stats moment pattern,
# per group), scaled by n^2 via floor division — one rollup shuffle, one
# TakeOrdered with full tie-breaks.

def q_price_volatility_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
    g = li.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).cast("long").alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("ss"),
    )
    return (
        g.where("n >= 5")
        .selectExpr(
            "l_partkey", "n",
            "CAST((CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS var_cents2",
        )
        .orderBy(F.desc("var_cents2"), "l_partkey")
        .limit(20)
    )


Q_PRICE_VOL_ORACLE = """
WITH g AS (
  SELECT l_partkey, COUNT(*) AS n,
         CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS s,
         SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS ss
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, n,
       CAST((CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_cents2
FROM g WHERE n >= 5
ORDER BY var_cents2 DESC, l_partkey LIMIT 20
"""


SPECS += [
    QuerySpec("q_rate_limit_flags", q_rate_limit_flags, Q_RATE_LIMIT_ORACLE,
              "sliding 60s burst detection per user via RANGE frames",
              ("analytics", "fraud", "window")),
    QuerySpec("q_price_volatility_topk", q_price_volatility_topk,
              Q_PRICE_VOL_ORACLE,
              "top-20 price-volatile parts by exact integer variance",
              ("analytics", "stats")),
]


# --- robust outliers: median / MAD --------------------------------------------
# The robust counterpart of q_anomaly_trailing's mean-based flags:
# center = exact median, spread = exact MAD (median absolute
# deviation), outlier iff |x - med| > 3.5 * 1.4826 * MAD. Everything in
# DOUBLED units so interpolated medians stay integers (an even-n median
# is the average of two ints — x2 makes it exact); the 3.5 * 1.4826
# cut becomes the pure-integer comparison 20000*|u - med_u| >
# 51891 * mad_u2. Medians come from the two-pass sharded exact-quantile
# machinery (driver-side prefix sums, literals folded back — the
# q_decile_binning pattern, no percentile sort buffer).

def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import exact_quantiles

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
    med_u = int(round(2 * exact_quantiles(o, "cents", [0.5], 1_000_000)[0]))
    dev = o.selectExpr(f"abs(2 * cents - {med_u}) AS du")
    mad_u2 = int(round(2 * exact_quantiles(dev, "du", [0.5], 2_000_000)[0]))
    return o.agg(
        F.count("*").alias("n"),
        F.lit(med_u).alias("median_cents_x2"),
        F.lit(mad_u2).alias("mad_cents_x4"),
        F.sum(F.expr(
            f"CAST(20000 * abs(2 * cents - {med_u}) > 51891 * CAST({mad_u2} AS BIGINT)"
            " AS BIGINT)")).alias("n_outliers"),
    )


Q_MAD_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), med AS (
  SELECT CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med_u FROM o
), dev AS (
  SELECT abs(2 * cents - med_u) AS du, med_u FROM o CROSS JOIN med
), mad AS (
  SELECT CAST(round(2 * quantile_cont(du, 0.5)) AS BIGINT) AS mad_u2,
         MAX(med_u) AS med_u
  FROM dev
)
SELECT COUNT(*) AS n,
       MAX(med_u) AS median_cents_x2,
       MAX(mad_u2) AS mad_cents_x4,
       CAST(SUM(CAST(20000 * abs(2 * cents - med_u) > 51891 * mad_u2
            AS BIGINT)) AS BIGINT) AS n_outliers
FROM o CROSS JOIN mad
"""


SPECS += [
    QuerySpec("q_mad_outliers", q_mad_outliers, Q_MAD_ORACLE,
              "median/MAD robust outlier flags from exact sharded quantiles",
              ("analytics", "stats", "robust")),
]


# --- event-time disorder audit ------------------------------------------------
# How out-of-order is the stream, per user and overall? An event is
# "late" if it carries a smaller timestamp than an earlier-ingested
# event of the same user (ingestion order = event_id, the generator's
# append order). One per-user window pass (running max of ts over
# ingestion order, strictly-preceding frame); the summary is what you
# size WATERMARK DELAY from — the reference hand-tunes 2 s
# (chapter4/EventTimeOperations.java:98-100), this measures instead.

def q_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "unix_millis(ts) AS ts_ms")
    w = (
        Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn("prior_max", F.max("ts_ms").over(w)).selectExpr(
        "CAST(prior_max IS NOT NULL AND ts_ms < prior_max AS INT) AS late",
        "CASE WHEN prior_max IS NOT NULL AND ts_ms < prior_max"
        " THEN prior_max - ts_ms ELSE 0 END AS lag_ms",
    )
    return flagged.agg(
        F.count("*").alias("n_events"),
        F.sum("late").alias("n_late"),
        F.expr("sum(late) * 1000000 div count(*)").alias("late_ppm"),
        F.max("lag_ms").alias("max_disorder_ms"),
        F.sum(F.expr("CAST(lag_ms AS DECIMAL(28,0))")).cast("long")
        .alias("total_disorder_ms"),
    )


Q_OOO_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
), flagged AS (
  SELECT CAST(pm IS NOT NULL AND ts_ms < pm AS INT) AS late,
         CASE WHEN pm IS NOT NULL AND ts_ms < pm THEN pm - ts_ms
              ELSE 0 END AS lag_ms
  FROM (
    SELECT ts_ms, MAX(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM ev
  )
)
SELECT COUNT(*) AS n_events,
       CAST(SUM(late) AS BIGINT) AS n_late,
       CAST(SUM(late) AS BIGINT) * 1000000 // COUNT(*) AS late_ppm,
       MAX(lag_ms) AS max_disorder_ms,
       CAST(SUM(CAST(lag_ms AS HUGEINT)) AS BIGINT) AS total_disorder_ms
FROM flagged
"""


# --- Theil-Sen robust trend ---------------------------------------------------
# Median-of-pairwise-slopes over the daily revenue series — the robust
# companion to Mann-Kendall (which only signs the trend; this sizes
# it). Slopes are exact rationals (cents per day: dx is BIGINT, dt a
# whole day count); the median picks by rank over slope_micro =
# dx * 1e6 div dt, floored identically on both engines. The |days|^2
# pair join is calendar-bounded (same justification as Mann-Kendall).

def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
        # the ~2400-row daily series feeds FOUR scans (broadcast + stream
        # side, twice); materializing it is ~free and saves three full
        # orders-table aggregations (unlike the triangle edges, where the
        # materialized set was huge and checkpointing LOST — size decides)
        .localCheckpoint(eager=True)
    )
    a = daily.selectExpr("day_ms AS da", "x AS xa")
    b = daily.selectExpr("day_ms AS db", "x AS xb")

    def slopes():
        return b.join(F.broadcast(a), F.col("da") < F.col("db")).selectExpr(
            f"(xb - xa) * 1000000 div greatest(1, (db - da) div {DAY_MS})"
            " AS slope_micro",
        )

    # |days|^2/2 pair slopes is calendar-bounded but still millions of
    # rows — DISTRIBUTED EXACT SELECTION (the q_weighted_median two-pass
    # machinery, generalized r9 to an iterative narrowing): each level
    # collects per-bucket counts under a truncated-div histogram
    # (`slope div width` is order-consistent, so bucket order = value
    # order), the driver prefix-sums to locate the 1-2 buckets holding
    # the middle ranks, and the NEXT level re-buckets only those at
    # 10^4x finer width — until the located bucket is small enough for
    # a bounded in-bucket row_number. The r8 single-level form windowed
    # whatever the median shard held, and 80% of all slopes share shard
    # 0 at sf0.1 (2.3M rows through ONE sort task — the unsplittable-
    # hot-key stall of guide §2.5, and the piece that would never
    # survive a 100x day-range). Each level is one cheap broadcast-NLJ
    # re-derive + a <=10^4-row collect; the full slope set still never
    # crosses the wire.
    # successive bucket widths; each level fans a parent bucket into at
    # most 10^4 children — except bucket 0, which truncated-div makes
    # span (-width, +width) and so fans into up to 2*10^4 - 1 children
    # holding ~2x a normal bucket's mass (ADVICE r9); the collect bound
    # is therefore <=2*10^4 rows, still driver-trivial, and correctness
    # is unaffected (truncation stays monotone). The width-1 tail level
    # (bucket == exact value) bounds the final in-bucket sort even
    # under total value concentration.
    WIDTHS = [10**12, 10**8, 10**4, 1]
    SMALL = 65536                    # in-bucket sort budget (one task)

    level_counts = sorted(
        (r.b, r.c)
        for r in slopes().selectExpr(f"slope_micro div {WIDTHS[0]} AS b")
        .groupBy("b").agg(F.count("*").alias("c")).collect()
    )
    m = sum(c for _, c in level_counts)
    if m == 0:
        # degenerate calendar (<2 distinct days → zero slope pairs): the
        # oracle's global aggregate over an empty WHERE yields one all-NULL
        # row; match it instead of building an empty CASE expression.
        return daily.sparkSession.range(1).selectExpr(
            "CAST(NULL AS BIGINT) AS n_pairs",
            "CAST(NULL AS BIGINT) AS theil_sen_slope_micro",
        )
    r1, r2 = (m + 1) // 2, m // 2 + 1

    def locate(counts, ranks, base_of):
        """Map each target rank to its child bucket: returns
        {child_path: (base, [ranks inside])}. ``counts`` are
        ((parent_path, bucket), cnt) sorted so each parent's buckets are
        ascending; ``base_of[parent_path]`` is the count of slopes
        strictly below that parent bucket."""
        out: dict[tuple, tuple[int, list[int]]] = {}
        run = dict.fromkeys(base_of, 0)
        for (path, bkt), c in counts:
            lo = base_of[path] + run[path]
            hits = [r for r in ranks if lo < r <= lo + c]
            if hits:
                child = path + (bkt,)
                if child in out:
                    out[child][1].extend(hits)
                else:
                    out[child] = (lo, hits)
            run[path] += c
        return out

    # paths: tuple of bucket ids, one per level, AND-ed as div predicates
    def path_pred(path):
        return " AND ".join(
            f"slope_micro div {WIDTHS[i]} = {bkt}"
            for i, bkt in enumerate(path))

    active = locate(
        [(((), bkt), c) for bkt, c in level_counts], (r1, r2), {(): 0})
    cnt_of = {(bkt,): c for bkt, c in level_counts}
    level = 1
    while level < len(WIDTHS) and any(
            cnt_of[p] > SMALL for p in active):
        big = [p for p in active if cnt_of[p] > SMALL]
        keep = {p: v for p, v in active.items() if cnt_of[p] <= SMALL}
        pred = " OR ".join(f"({path_pred(p)})" for p in big)
        path_case = "CASE " + " ".join(
            f"WHEN {path_pred(p)} THEN {i}" for i, p in enumerate(big)
        ) + " END"
        sub = sorted(
            ((big[r.pid], r.b), r.c)
            for r in slopes().where(pred)
            .selectExpr(f"{path_case} AS pid",
                        f"slope_micro div {WIDTHS[level]} AS b",
                        "slope_micro")
            .groupBy("pid", "b").agg(F.count("*").alias("c")).collect()
        )
        ranks_pending = [r for p in big for r in active[p][1]]
        base_of = {p: active[p][0] for p in big}
        located = locate(sub, tuple(ranks_pending), base_of)
        cnt_of.update({pp + (bkt,): c for (pp, bkt), c in sub})
        active = {**keep, **located}
        level += 1

    # final: bounded in-bucket ranking over ONLY the located buckets
    paths = list(active)
    pid_case = "CASE " + " ".join(
        f"WHEN {path_pred(p)} THEN {i}" for i, p in enumerate(paths)
    ) + " END"
    base_case = "CASE " + " ".join(
        f"WHEN pid = {i} THEN {active[p][0]}" for i, p in enumerate(paths)
    ) + " END"
    pred = " OR ".join(f"({path_pred(p)})" for p in paths)
    in_bucket = Window.partitionBy("pid").orderBy("slope_micro")
    return (
        slopes().where(pred)
        .selectExpr("slope_micro", f"{pid_case} AS pid")
        .withColumn("lr", F.row_number().over(in_bucket))
        .selectExpr("slope_micro", f"{base_case} + lr AS rk")
        .where(f"rk = {r1} OR rk = {r2}")
        .agg(
            F.lit(m).alias("n_pairs"),
            F.expr("CAST(sum(slope_micro) div count(*) AS BIGINT)")
            .alias("theil_sen_slope_micro"),
        )
    )


Q_THEIL_SEN_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), slopes AS (
  SELECT (b.x - a.x) * 1000000 // greatest(1, (b.day_ms - a.day_ms) // {DAY_MS})
           AS slope_micro
  FROM daily a JOIN daily b ON a.day_ms < b.day_ms
), ranked AS (
  SELECT slope_micro, row_number() OVER (ORDER BY slope_micro) AS rk,
         COUNT(*) OVER () AS m
  FROM slopes
)
SELECT MAX(m) AS n_pairs,
       CAST(SUM(slope_micro) // COUNT(*) AS BIGINT) AS theil_sen_slope_micro
FROM ranked WHERE rk = (m + 1) // 2 OR rk = m // 2 + 1
"""


SPECS += [
    QuerySpec("q_out_of_order_audit", q_out_of_order_audit, Q_OOO_ORACLE,
              "event-time disorder audit: late fraction + max watermark lag",
              ("analytics", "streaming-adjacent", "quality")),
    QuerySpec("q_theil_sen_trend", q_theil_sen_trend, Q_THEIL_SEN_ORACLE,
              "Theil-Sen median-of-slopes robust trend over daily revenue",
              ("analytics", "stats", "robust")),
]


# --- Poisson-bootstrap CI for A/B uplift --------------------------------------
# The experimentation deliverable: not "is the uplift nonzero" (the rank
# tests answer that) but "how big is it, with what interval". Same
# coordination-free Poisson(1) replica machinery as
# q_poisson_bootstrap_ci, drawn INDEPENDENTLY per arm (hash-salted by
# the arm), uplift per replica = mean_b - mean_a in exact milli-cents,
# CI = the 2nd/31st order statistics of 32 replica uplifts.

def q_ab_bootstrap_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    fam = _boot_family(_B)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("arm"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        portable_hash64(F.concat(F.col("event_type"), F.lit("#"),
                                 F.col("event_id").cast("string"))).alias("h"),
    )
    members = ", ".join(_boot_member("h", abc, True) for abc in fam)
    rep = ev.select(
        "arm", "cents",
        F.posexplode(F.expr(f"array({members})")).alias("r", "u"),
    ).selectExpr("arm", "cents", "r", f"{_pois_case('u')} AS w")
    arm_means = (
        rep.groupBy("r", "arm")
        .agg(F.sum(F.expr("CAST(w AS DECIMAL(28,0)) * cents")).cast("long")
             .alias("ws"),
             F.sum("w").alias("wn"))
        .selectExpr("r", "arm", "ws * 1000 div wn AS mean_milli")
    )
    uplift = (
        arm_means.groupBy("r").pivot("arm", ["click", "purchase"])
        .agg(F.first("mean_milli"))
        .selectExpr("r", "purchase - click AS uplift_milli")
    )
    rk = Window.orderBy("uplift_milli", "r")
    picked = uplift.withColumn("rk", F.row_number().over(rk)).where(
        F.col("rk").isin(2, _B - 1))
    point = (
        ev.groupBy("arm").agg(
            F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s"),
            F.count("*").alias("n"))
        .groupBy().pivot("arm", ["click", "purchase"]).agg(
            F.first(F.expr("s * 1000 div n")))
        .selectExpr("purchase - click AS uplift_point_milli")
    )
    return (
        picked.groupBy()
        .agg(F.min("uplift_milli").alias("ci_lo_milli"),
             F.max("uplift_milli").alias("ci_hi_milli"))
        .crossJoin(F.broadcast(point))
        .selectExpr(f"{_B} AS n_replicas", "ci_lo_milli", "ci_hi_milli",
                    "uplift_point_milli")
    )


_AB_H = _ph64_sql("concat(event_type, '#', CAST(event_id AS VARCHAR))")
_AB_MEMBERS = ", ".join(
    _boot_member("h", abc, False) for abc in _boot_family(_B))

Q_AB_UPLIFT_ORACLE = f"""
WITH ev AS (
  SELECT event_type AS arm, CAST(round(value * 100) AS BIGINT) AS cents,
         {_AB_H} AS h
  FROM events WHERE event_type IN ('click', 'purchase')
), rep AS (
  SELECT arm, cents,
         generate_subscripts([{_AB_MEMBERS}], 1) - 1 AS r,
         unnest([{_AB_MEMBERS}]) AS u
  FROM ev
), arm_means AS (
  SELECT r, arm,
         CAST(SUM(CAST({_POIS_CASE_SQL} AS HUGEINT) * cents) AS BIGINT)
           * 1000 // CAST(SUM({_POIS_CASE_SQL}) AS BIGINT) AS mean_milli
  FROM rep GROUP BY 1, 2
), uplift AS (
  SELECT r,
         MAX(CASE WHEN arm = 'purchase' THEN mean_milli END)
         - MAX(CASE WHEN arm = 'click' THEN mean_milli END) AS uplift_milli
  FROM arm_means GROUP BY r
), ranked AS (
  SELECT uplift_milli, row_number() OVER (ORDER BY uplift_milli, r) AS rk
  FROM uplift
), point AS (
  SELECT MAX(CASE WHEN arm = 'purchase' THEN m END)
         - MAX(CASE WHEN arm = 'click' THEN m END) AS uplift_point_milli
  FROM (
    SELECT arm, CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
           AS m
    FROM ev GROUP BY arm
  )
)
SELECT {_B} AS n_replicas,
       MIN(uplift_milli) AS ci_lo_milli,
       MAX(uplift_milli) AS ci_hi_milli,
       MAX(uplift_point_milli) AS uplift_point_milli
FROM ranked CROSS JOIN point
WHERE rk IN (2, {_B - 1})
"""


SPECS += [
    QuerySpec("q_ab_bootstrap_uplift", q_ab_bootstrap_uplift,
              Q_AB_UPLIFT_ORACLE,
              "Poisson-bootstrap CI for the A/B uplift in exact milli-cents",
              ("analytics", "stats", "sampling")),
]


# --- CEP times() quantifier ---------------------------------------------------
# The FlinkCEP quantifier family member the followed-by pair doesn't
# cover: pattern "at least N views within the lookback day, then a
# purchase" (times(N) + next). Declarative form: one per-user RANGE
# frame counting views in the preceding day AT each purchase — no
# automaton needed because the quantifier is a windowed count, which is
# exactly why Flink's times() exists as syntax and Spark needs none.

_CEP_TIMES_N = 2
_CEP_TIMES_WINDOW_MS = 86_400_000  # day lookback; the sparse synthetic stream has no hour-scale bursts


def q_cep_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")).selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id")
    w = (
        Window.partitionBy("user_id").orderBy("ts_ms")
        .rangeBetween(-_CEP_TIMES_WINDOW_MS, -1)
    )
    counted = ev.withColumn(
        "n_views_1h",
        F.sum(F.expr("CAST(event_type = 'view' AS BIGINT)")).over(w))
    return (
        counted.where(
            f"event_type = 'purchase' AND n_views_1h >= {_CEP_TIMES_N}")
        .selectExpr("user_id", "ts_ms AS purchase_ts_ms", "n_views_1h")
    )


Q_CEP_TIMES_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type IN ('view', 'purchase')
), counted AS (
  SELECT user_id, event_type, ts_ms,
         CAST(SUM(CAST(event_type = 'view' AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts_ms
           RANGE BETWEEN {_CEP_TIMES_WINDOW_MS} PRECEDING AND 1 PRECEDING)
           AS BIGINT) AS n_views_1h
  FROM ev
)
SELECT user_id, ts_ms AS purchase_ts_ms, n_views_1h
FROM counted
WHERE event_type = 'purchase' AND n_views_1h >= {_CEP_TIMES_N}
"""


# --- A/A calibration ----------------------------------------------------------
# Before trusting any A/B readout: split the SAME population into 32
# pseudo-experiments by hash and measure how often a no-effect split
# produces an |uplift| beyond the practical-significance bar. A
# well-behaved assignment shows few exceedances; a biased hash or a
# heavy tail shows up immediately. Pure integer arithmetic per split.

_AA_SPLITS = 32
_AA_BAR_MILLI = 200_000  # 200 cents practical-significance bar


def q_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.pmod(portable_hash64(F.concat(F.lit("aa#"),
               F.col("user_id").cast("string"))), F.lit(_AA_SPLITS * 2))
        .alias("bucket"),
    ).selectExpr(
        f"bucket div 2 AS split_id", "pmod(bucket, 2) AS arm", "cents")
    per_arm = ev.groupBy("split_id", "arm").agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s"),
        F.count("*").alias("n"),
    ).selectExpr("split_id", "arm", "s * 1000 div n AS mean_milli")
    uplifts = (
        per_arm.groupBy("split_id").pivot("arm", [0, 1])
        .agg(F.first("mean_milli"))
        .selectExpr("split_id", "`1` - `0` AS uplift_milli")
    )
    return uplifts.agg(
        F.count("*").alias("n_splits"),
        F.max(F.abs(F.col("uplift_milli"))).alias("max_abs_uplift_milli"),
        F.sum(F.expr(
            f"CAST(abs(uplift_milli) > {_AA_BAR_MILLI} AS BIGINT)"))
        .alias("n_exceedances"),
    )


_AA_H = _ph64_sql("concat('aa#', CAST(user_id AS VARCHAR))")

Q_AA_ORACLE = f"""
WITH ev AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         ({_AA_H}) % {_AA_SPLITS * 2} AS bucket
  FROM events
), per_arm AS (
  SELECT bucket // 2 AS split_id, bucket % 2 AS arm,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
           AS mean_milli
  FROM ev GROUP BY 1, 2
), uplifts AS (
  SELECT split_id,
         MAX(CASE WHEN arm = 1 THEN mean_milli END)
         - MAX(CASE WHEN arm = 0 THEN mean_milli END) AS uplift_milli
  FROM per_arm GROUP BY 1
)
SELECT COUNT(*) AS n_splits,
       MAX(abs(uplift_milli)) AS max_abs_uplift_milli,
       CAST(SUM(CAST(abs(uplift_milli) > {_AA_BAR_MILLI} AS BIGINT))
            AS BIGINT) AS n_exceedances
FROM uplifts
"""


SPECS += [
    QuerySpec("q_cep_times", q_cep_times, Q_CEP_TIMES_ORACLE,
              "CEP times(N) quantifier: >=2 views in the day before purchase",
              ("analytics", "cep", "window")),
    QuerySpec("q_aa_calibration", q_aa_calibration, Q_AA_ORACLE,
              "A/A split calibration: false-exceedance audit over 32 splits",
              ("analytics", "stats", "experimentation")),
]


# --- language-ID confusion matrix (model eval) --------------------------------
# The eval readout for the text_langid heuristic: confusion counts per
# (labeled, predicted) cell plus per-class recall and the global
# accuracy — documents carry ground-truth `lang`, so the classifier
# grades itself. The model-evaluation shape (one keyed rollup over the
# scored scan + a broadcast per-class total) applies unchanged to any
# classifier whose scores are deterministic columns.

def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import text_langid

    scored = text_langid(spark, sf_dir)
    cells = scored.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs"))
    per_class = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("class_total"))
    return (
        cells.join(F.broadcast(per_class), "labeled_lang")
        .selectExpr(
            "labeled_lang", "predicted_lang", "n_docs",
            "n_docs * 1000000 div class_total AS cell_ppm",
        )
    )


TEXT_LANGID_CONFUSION_ORACLE = """
WITH scored AS (
  {langid}
), cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
  FROM scored GROUP BY 1, 2
), per_class AS (
  SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS class_total
  FROM cells GROUP BY 1
)
SELECT labeled_lang, predicted_lang, n_docs,
       n_docs * 1000000 // class_total AS cell_ppm
FROM cells JOIN per_class USING (labeled_lang)
"""


# --- rolling-origin forecast backtest -----------------------------------------
# q_forecast_baseline picks a winner at horizon 1 and 7; this grades the
# seasonal-naive forecaster at EVERY horizon 1..7 days with the rolling
# origin — MAE(h) = mean |x(d) - x(d - h)| over all evaluable days. One
# map-side horizon explode + seven broadcast equi-joins collapsed into a
# single shifted self-join on (day - h). The MAE-vs-horizon curve is how
# a forecasting team picks the refresh cadence.

_BT_HORIZONS = 7


def q_backtest_horizon_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    probes = daily.selectExpr(
        "x AS x_now",
        f"explode(transform(sequence(1, {_BT_HORIZONS}),"
        f" h -> struct(h AS h, day_ms - h * {DAY_MS} AS base_day))) AS e",
    ).selectExpr("x_now", "e.h AS h", "e.base_day AS day_ms")
    joined = probes.join(F.broadcast(daily), "day_ms")
    return (
        joined.groupBy("h")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.expr("CAST(abs(x_now - x) AS DECIMAL(28,0))")).cast("long")
            .alias("abs_err"),
        )
        .selectExpr("h AS horizon_days", "n_days",
                    "abs_err div n_days AS mae_cents")
    )


Q_BACKTEST_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), probes AS (
  SELECT d.x AS x_now, h.range AS h, d.day_ms - h.range * {DAY_MS} AS day_ms
  FROM daily d CROSS JOIN range(1, {_BT_HORIZONS} + 1) h
)
SELECT h AS horizon_days, COUNT(*) AS n_days,
       CAST(SUM(CAST(abs(x_now - b.x) AS HUGEINT)) AS BIGINT) // COUNT(*)
         AS mae_cents
FROM probes p JOIN daily b USING (day_ms)
GROUP BY 1
"""


from .textops import TEXT_LANGID_ORACLE as _LANGID_ORACLE  # noqa: E402

TEXT_LANGID_CONFUSION_ORACLE = TEXT_LANGID_CONFUSION_ORACLE.format(
    langid=_LANGID_ORACLE)

SPECS += [
    QuerySpec("text_langid_confusion", text_langid_confusion,
              TEXT_LANGID_CONFUSION_ORACLE,
              "confusion matrix + per-class recall for the langid heuristic",
              ("text", "eval")),
    QuerySpec("q_backtest_horizon_mae", q_backtest_horizon_mae,
              Q_BACKTEST_ORACLE,
              "rolling-origin MAE per forecast horizon 1..7 days",
              ("analytics", "timeseries", "eval")),
]


# --- difference-in-differences ------------------------------------------------
# The minimal causal readout: treated group = purchase events, control =
# click events, treatment boundary = the time-range midpoint. DiD =
# (treated_post - treated_pre) - (control_post - control_pre) over
# floored mean milli-cents. One conditional aggregate after the 1-row
# bounds broadcast; the parallel-trends caveat is the analyst's, the
# engine's job is the exact arithmetic.

def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")).selectExpr(
        "event_type", "unix_millis(ts) AS ts_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents")
    bounds = ev.agg(F.expr("(min(ts_ms) + max(ts_ms)) div 2").alias("mid"))
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .selectExpr("event_type", "CAST(ts_ms >= mid AS INT) AS post", "cents")
        .groupBy("event_type", "post")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s"),
             F.count("*").alias("n"))
        .selectExpr("event_type", "post", "s * 1000 div n AS mean_milli")
    )
    return (
        cells.groupBy()
        .pivot("event_type", ["click", "purchase"])
        .agg(F.max(F.expr("CASE WHEN post = 1 THEN mean_milli END")).alias("post"),
             F.max(F.expr("CASE WHEN post = 0 THEN mean_milli END")).alias("pre"))
        .selectExpr(
            "purchase_post - purchase_pre AS treated_delta_milli",
            "click_post - click_pre AS control_delta_milli",
            "(purchase_post - purchase_pre) - (click_post - click_pre)"
            " AS did_milli",
        )
    )


Q_DID_ORACLE = """
WITH ev AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
), bounds AS (
  SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS mid FROM ev
), cells AS (
  SELECT event_type, CAST(ts_ms >= mid AS INT) AS post,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
           AS mean_milli
  FROM ev CROSS JOIN bounds GROUP BY 1, 2
)
SELECT
  MAX(CASE WHEN event_type = 'purchase' AND post = 1 THEN mean_milli END)
  - MAX(CASE WHEN event_type = 'purchase' AND post = 0 THEN mean_milli END)
    AS treated_delta_milli,
  MAX(CASE WHEN event_type = 'click' AND post = 1 THEN mean_milli END)
  - MAX(CASE WHEN event_type = 'click' AND post = 0 THEN mean_milli END)
    AS control_delta_milli,
  (MAX(CASE WHEN event_type = 'purchase' AND post = 1 THEN mean_milli END)
   - MAX(CASE WHEN event_type = 'purchase' AND post = 0 THEN mean_milli END))
  - (MAX(CASE WHEN event_type = 'click' AND post = 1 THEN mean_milli END)
     - MAX(CASE WHEN event_type = 'click' AND post = 0 THEN mean_milli END))
    AS did_milli
FROM cells
"""


# --- discrete-time survival hazard --------------------------------------------
# Survival analysis WITHOUT the Kaplan-Meier float product (whose
# cumulative multiplication is not portably roundable): the discrete
# hazard table h(k) = churned-in-week-k / at-risk-in-week-k is pure
# integer ratios per row. Lifetime = weeks between a user's first and
# last event; users whose last event touches the final observed week
# are CENSORED (still alive) and leave the risk set without a churn
# event — the survival-analysis distinction that a naive lifetime
# histogram gets wrong. at-risk(k) comes from a running sum over the
# tiny lifetime histogram, never the user table.

_WEEK_MS = 7 * 86_400_000
_DAY_MS = 86_400_000


def q_discrete_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms")
    bounds = ev.agg(F.max("ts_ms").alias("obs_end"))
    users = (
        ev.groupBy("user_id")
        .agg(F.min("ts_ms").alias("first_ms"), F.max("ts_ms").alias("last_ms"))
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            f"(last_ms - first_ms) div {_WEEK_MS} AS lifetime_w",
            f"CAST((obs_end - last_ms) div {_WEEK_MS} < 1 AS INT) AS censored",
        )
    )
    hist = users.groupBy("lifetime_w").agg(
        F.count("*").alias("n_ending"),
        F.sum("censored").alias("n_censored"),
    )
    w = Window.orderBy(F.desc("lifetime_w")).rowsBetween(
        Window.unboundedPreceding, 0)
    return (
        hist.withColumn("at_risk", F.sum("n_ending").over(w))
        .selectExpr(
            "lifetime_w AS week",
            "at_risk",
            "n_ending - n_censored AS n_churned",
            "n_censored",
            "(n_ending - n_censored) * 1000000 div at_risk AS hazard_ppm",
        )
    )


Q_HAZARD_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
), bounds AS (
  SELECT MAX(ts_ms) AS obs_end FROM ev
), users AS (
  SELECT (MAX(ts_ms) - MIN(ts_ms)) // {_WEEK_MS} AS lifetime_w,
         CAST((MAX(obs_end) - MAX(ts_ms)) // {_WEEK_MS} < 1 AS INT) AS censored
  FROM ev CROSS JOIN bounds GROUP BY user_id
), hist AS (
  SELECT lifetime_w, COUNT(*) AS n_ending,
         CAST(SUM(censored) AS BIGINT) AS n_censored
  FROM users GROUP BY 1
)
SELECT lifetime_w AS week,
       CAST(SUM(n_ending) OVER (ORDER BY lifetime_w DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk,
       n_ending - n_censored AS n_churned,
       n_censored,
       CAST((n_ending - n_censored) * 1000000
         // SUM(n_ending) OVER (ORDER BY lifetime_w DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hazard_ppm
FROM hist
"""


SPECS += [
    QuerySpec("q_diff_in_diff", q_diff_in_diff, Q_DID_ORACLE,
              "difference-in-differences over the time-range midpoint",
              ("analytics", "stats", "causal")),
    QuerySpec("q_discrete_hazard", q_discrete_hazard, Q_HAZARD_ORACLE,
              "discrete-time survival hazard table with censoring",
              ("analytics", "stats", "survival")),
]


# --- seasonal strength --------------------------------------------------------
# One number for "does weekly seasonality matter here": strength =
# 1 - SS(residual)/SS(detrended) over the decomposition that
# q_seasonal_decompose materializes — both sums of squares are exact
# integers, the ratio floors to micros. ~0 means the weekday component
# explains nothing; ~1 means the series is pure weekly rhythm.

def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = q_seasonal_decompose(spark, sf_dir).selectExpr(
        "x - trend - seasonal AS resid", "x - trend AS detr").where(
        "detr IS NOT NULL")
    return parts.agg(
        F.count("*").alias("n_days"),
        F.sum(F.expr("CAST(resid AS DECIMAL(38,0)) * resid")).alias("ss_res"),
        F.sum(F.expr("CAST(detr AS DECIMAL(38,0)) * detr")).alias("ss_det"),
    ).selectExpr(
        "n_days",
        # full sums of squares overflow BIGINT (~1e19 at sf0.01); report
        # in millions, keep the exact DECIMALs for the ratio
        "CAST(ss_res div 1000000 AS BIGINT) AS ss_residual_m",
        "CAST(ss_det div 1000000 AS BIGINT) AS ss_detrended_m",
        "CAST((ss_det - ss_res) * 1000000 div ss_det AS BIGINT)"
        " AS strength_micro",
    )


Q_SEASONAL_STRENGTH_ORACLE = f"""
WITH decomp AS (
  {Q_SEASONAL_ORACLE}
), parts AS (
  SELECT x - trend - seasonal AS resid, x - trend AS detr
  FROM decomp WHERE x - trend IS NOT NULL
)
SELECT COUNT(*) AS n_days,
       CAST(SUM(CAST(resid AS HUGEINT) * resid) // 1000000 AS BIGINT)
         AS ss_residual_m,
       CAST(SUM(CAST(detr AS HUGEINT) * detr) // 1000000 AS BIGINT)
         AS ss_detrended_m,
       CAST((SUM(CAST(detr AS HUGEINT) * detr)
             - SUM(CAST(resid AS HUGEINT) * resid)) * 1000000
            // SUM(CAST(detr AS HUGEINT) * detr) AS BIGINT) AS strength_micro
FROM parts
"""


SPECS += [
    QuerySpec("q_seasonality_strength", q_seasonality_strength,
              Q_SEASONAL_STRENGTH_ORACLE,
              "1 - SS(resid)/SS(detrended): weekly-seasonality strength micro",
              ("analytics", "timeseries")),
]


# --- co-purchase lift ---------------------------------------------------------
# q_copurchase_pairs ranks by RAW pair count, which just surfaces
# popular parts; lift = P(a,b) / (P(a)·P(b)) normalizes away item
# popularity and surfaces genuine affinity. Exact integer milli-lift
# (n_ab·N·1000 div (n_a·n_b)) over basket-distinct counts — the
# text_collocations_lift recipe applied to the market-basket domain.
# Support floor keeps the tiny-count noise out of the top-k.

_CL_MIN_PAIRS = 3
_CL_TOP = 20


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    pairs = baskets.select(F.explode(F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS pa, y AS pb))))")).alias("p")).select("p.pa", "p.pb")
    pair_counts = pairs.groupBy("pa", "pb").agg(F.count("*").alias("n_ab"))
    item_counts = (
        li.distinct().groupBy("l_partkey").agg(F.count("*").alias("n_i")))
    n_baskets = baskets.agg(F.count("*").alias("nb"))
    return (
        pair_counts.where(f"n_ab >= {_CL_MIN_PAIRS}")
        .join(F.broadcast(item_counts.selectExpr("l_partkey AS pa",
                                                 "n_i AS n_a")), "pa")
        .join(F.broadcast(item_counts.selectExpr("l_partkey AS pb",
                                                 "n_i AS n_b")), "pb")
        .crossJoin(F.broadcast(n_baskets))
        .selectExpr(
            "pa", "pb", "n_ab",
            "CAST(CAST(n_ab AS DECIMAL(38,0)) * nb * 1000"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS lift_milli",
        )
        .orderBy(F.desc("lift_milli"), "pa", "pb")
        .limit(_CL_TOP)
    )


Q_COPURCHASE_LIFT_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_counts AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n_ab
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2
), item_counts AS (
  SELECT l_partkey, COUNT(*) AS n_i FROM b GROUP BY 1
), nb AS (
  SELECT COUNT(DISTINCT l_orderkey) AS nb FROM b
)
SELECT pa, pb, n_ab,
       CAST(CAST(n_ab AS HUGEINT) * nb.nb * 1000
            // (CAST(x.n_i AS HUGEINT) * y.n_i) AS BIGINT) AS lift_milli
FROM pair_counts
JOIN item_counts x ON x.l_partkey = pa
JOIN item_counts y ON y.l_partkey = pb
CROSS JOIN nb
WHERE n_ab >= {_CL_MIN_PAIRS}
ORDER BY lift_milli DESC, pa, pb LIMIT {_CL_TOP}
"""


# --- inter-order gap quantiles ------------------------------------------------
# How long until customers come back: p25/p50/p75 of the gap (days)
# between consecutive orders per customer. Gaps from one per-customer
# lag pass; the quartile boundaries come from the two-pass sharded
# exact-quantile machinery (driver prefix sums, literals folded back —
# no percentile sort buffer), floored to whole days.

def q_repurchase_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import exact_quantiles

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "unix_millis(o_orderdate) AS ts_ms")
    w = Window.partitionBy("o_custkey").orderBy("ts_ms")
    gaps = (
        o.withColumn("prev", F.lag("ts_ms").over(w))
        .where("prev IS NOT NULL")
        .selectExpr(f"(ts_ms - prev) div {DAY_MS} AS gap_days")
    )
    qs = exact_quantiles(gaps, "gap_days", [0.25, 0.5, 0.75], 30)
    p25, p50, p75 = (int(q) for q in qs)  # floored whole days
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        F.lit(p25).alias("p25_days"),
        F.lit(p50).alias("p50_days"),
        F.lit(p75).alias("p75_days"),
    )


Q_REPURCHASE_ORACLE = f"""
WITH gaps AS (
  SELECT (ts_ms - prev) // {DAY_MS} AS gap_days FROM (
    SELECT epoch_ms(o_orderdate) AS ts_ms,
           lag(epoch_ms(o_orderdate)) OVER (PARTITION BY o_custkey
               ORDER BY epoch_ms(o_orderdate)) AS prev
    FROM orders
  ) WHERE prev IS NOT NULL
)
SELECT COUNT(*) AS n_gaps,
       CAST(floor(quantile_cont(gap_days, 0.25)) AS BIGINT) AS p25_days,
       CAST(floor(quantile_cont(gap_days, 0.5)) AS BIGINT) AS p50_days,
       CAST(floor(quantile_cont(gap_days, 0.75)) AS BIGINT) AS p75_days
FROM gaps
"""


SPECS += [
    QuerySpec("q_copurchase_lift", q_copurchase_lift, Q_COPURCHASE_LIFT_ORACLE,
              "popularity-normalized basket affinity: top-20 pairs by lift",
              ("analytics", "basket")),
    QuerySpec("q_repurchase_gap_quantiles", q_repurchase_gap_quantiles,
              Q_REPURCHASE_ORACLE,
              "p25/p50/p75 inter-order gap days via sharded exact quantiles",
              ("analytics", "behavior")),
]


# --- minimum detectable effect ------------------------------------------------
# q_aa_calibration's constructive counterpart: the empirical spread of
# the 32 no-effect split uplifts IS the noise floor, so ~2x its standard
# deviation is the smallest uplift this population/metric can credibly
# detect. Exact integer uplift moments; the std is one deterministic
# double expression (identical order both engines), floored to milli.

def q_mde_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.pmod(portable_hash64(F.concat(F.lit("aa#"),
               F.col("user_id").cast("string"))), F.lit(_AA_SPLITS * 2))
        .alias("bucket"),
    ).selectExpr(
        "bucket div 2 AS split_id", "pmod(bucket, 2) AS arm", "cents")
    per_arm = ev.groupBy("split_id", "arm").agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("s"),
        F.count("*").alias("n"),
    ).selectExpr("split_id", "arm", "s * 1000 div n AS mean_milli")
    uplifts = (
        per_arm.groupBy("split_id").pivot("arm", [0, 1])
        .agg(F.first("mean_milli"))
        .selectExpr("`1` - `0` AS u")
    )
    return uplifts.agg(
        F.count("*").alias("n_splits"),
        F.sum(F.expr("CAST(u AS DECIMAL(38,0))")).cast("long").alias("su"),
        F.sum(F.expr("CAST(u AS DECIMAL(38,0)) * u")).cast("long").alias("suu"),
    ).selectExpr(
        "n_splits",
        "CAST(floor(sqrt((CAST(n_splits AS DOUBLE) * suu"
        " - CAST(su AS DOUBLE) * su)"
        " / (CAST(n_splits AS DOUBLE) * (n_splits - 1)))) AS BIGINT)"
        " AS uplift_std_milli",
        "CAST(floor(2 * sqrt((CAST(n_splits AS DOUBLE) * suu"
        " - CAST(su AS DOUBLE) * su)"
        " / (CAST(n_splits AS DOUBLE) * (n_splits - 1)))) AS BIGINT)"
        " AS mde_milli",
    )


Q_MDE_ORACLE = f"""
WITH ev AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         ({_AA_H}) % {_AA_SPLITS * 2} AS bucket
  FROM events
), per_arm AS (
  SELECT bucket // 2 AS split_id, bucket % 2 AS arm,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) * 1000 // COUNT(*)
           AS mean_milli
  FROM ev GROUP BY 1, 2
), uplifts AS (
  SELECT MAX(CASE WHEN arm = 1 THEN mean_milli END)
         - MAX(CASE WHEN arm = 0 THEN mean_milli END) AS u
  FROM per_arm GROUP BY split_id
), moms AS (
  SELECT COUNT(*) AS n_splits,
         CAST(SUM(CAST(u AS HUGEINT)) AS BIGINT) AS su,
         CAST(SUM(CAST(u AS HUGEINT) * u) AS BIGINT) AS suu
  FROM uplifts
)
SELECT n_splits,
       CAST(floor(sqrt((CAST(n_splits AS DOUBLE) * suu
        - CAST(su AS DOUBLE) * su)
        / (CAST(n_splits AS DOUBLE) * (n_splits - 1)))) AS BIGINT)
       AS uplift_std_milli,
       CAST(floor(2 * sqrt((CAST(n_splits AS DOUBLE) * suu
        - CAST(su AS DOUBLE) * su)
        / (CAST(n_splits AS DOUBLE) * (n_splits - 1)))) AS BIGINT)
       AS mde_milli
FROM moms
"""


SPECS += [
    QuerySpec("q_mde_estimate", q_mde_estimate, Q_MDE_ORACLE,
              "empirical minimum detectable effect from A/A split spread",
              ("analytics", "stats", "experimentation")),
]


# --- ABC class migration ------------------------------------------------------
# Product-lifecycle readout: classify parts into revenue classes
# SEPARATELY for the first and second half of the ship-date range, then
# count the A/B/C -> A/B/C transition matrix (which parts are rising,
# which are dying). Reuses the descending sharded cumulative-share
# machinery per period; parts absent from a period class as '-'.

def q_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "unix_millis(l_shipdate) AS ts_ms",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
    )
    bounds = li.agg(F.expr("(min(ts_ms) + max(ts_ms)) div 2").alias("mid"))
    stamped = li.crossJoin(F.broadcast(bounds)).selectExpr(
        "l_partkey", "CAST(ts_ms >= mid AS INT) AS half", "cents")

    def classify(half: int):
        rev = (
            stamped.where(F.col("half") == half)
            .groupBy("l_partkey")
            .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long")
                 .alias("rev"))
        )
        tot = rev.agg(F.sum(F.expr("CAST(rev AS DECIMAL(38,0))"))
                      .cast("long").alias("total"))
        sharded = rev.withColumn("shard", F.expr("-(rev div 1000000)"))
        w_in = Window.partitionBy("shard").orderBy(
            F.desc("rev"), "l_partkey").rowsBetween(
            Window.unboundedPreceding, 0)
        local = sharded.withColumn("cum_in", F.sum("rev").over(w_in))
        w_sh = Window.orderBy("shard").rowsBetween(
            Window.unboundedPreceding, -1)
        bases = (
            sharded.groupBy("shard").agg(
                F.sum(F.expr("CAST(rev AS DECIMAL(38,0))")).cast("long")
                .alias("s"))
            .withColumn("base", F.coalesce(F.sum("s").over(w_sh), F.lit(0)))
            .select("shard", "base")
        )
        return (
            local.join(F.broadcast(bases), "shard")
            .crossJoin(F.broadcast(tot))
            .selectExpr(
                "l_partkey",
                "CASE WHEN (base + cum_in) * 100 <= total * 80 THEN 'A'"
                " WHEN (base + cum_in) * 100 <= total * 95 THEN 'B'"
                " ELSE 'C' END AS cls",
            )
        )

    before = classify(0).selectExpr("l_partkey", "cls AS cls_before")
    after = classify(1).selectExpr("l_partkey", "cls AS cls_after")
    return (
        before.join(after, "l_partkey", "full_outer")
        .selectExpr("coalesce(cls_before, '-') AS cls_before",
                    "coalesce(cls_after, '-') AS cls_after")
        .groupBy("cls_before", "cls_after")
        .agg(F.count("*").alias("n_parts"))
    )


Q_ABC_MIGRATION_ORACLE = """
WITH li AS (
  SELECT l_partkey, epoch_ms(l_shipdate) AS ts_ms,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), bounds AS (
  SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS mid FROM li
), stamped AS (
  SELECT l_partkey, CAST(ts_ms >= mid AS INT) AS half, cents
  FROM li CROSS JOIN bounds
), rev AS (
  SELECT half, l_partkey,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS rev
  FROM stamped GROUP BY 1, 2
), classed AS (
  SELECT half, l_partkey,
         CASE WHEN cum * 100 <= total * 80 THEN 'A'
              WHEN cum * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS cls
  FROM (
    SELECT half, l_partkey, rev,
           SUM(rev) OVER (PARTITION BY half ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(rev) OVER (PARTITION BY half) AS total
    FROM rev
  )
)
SELECT COALESCE(b.cls, '-') AS cls_before, COALESCE(a.cls, '-') AS cls_after,
       COUNT(*) AS n_parts
FROM (SELECT l_partkey, cls FROM classed WHERE half = 0) b
FULL OUTER JOIN (SELECT l_partkey, cls FROM classed WHERE half = 1) a
  ON a.l_partkey = b.l_partkey
GROUP BY 1, 2
"""


# --- hard-negative mining -----------------------------------------------------
# Contrastive-training prep beyond pipeline_negative_pairs' RANDOM
# negatives: for each deterministic anchor (vec_id ≡ 0 mod 157), the
# HARDEST negative is its most-similar vector with a DIFFERENT label —
# exact int8 cosine, broadcast anchors against one corpus scan, argmax
# per anchor with (cos, vec_id) tie-breaks. ~n/157 anchors keep the
# broadcast driver-scale; at 100 TB the anchor set is the training
# batch and the scan is the ANN index instead.

_HN_MOD = 157
_Q8E = ("transform(embedding,"
        " v -> CAST(floor(CAST(v AS DOUBLE) * 127.0) AS BIGINT))")


def pipeline_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", f"{_Q8E} AS q",
        f"aggregate({_Q8E}, 0L, (a, v) -> a + v * v) AS nrm")
    anchors = emb.where(f"pmod(vec_id, {_HN_MOD}) = 0").selectExpr(
        "vec_id AS aid", "label AS alabel", "q AS aq", "nrm AS anrm")
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .where("label != alabel")
        .selectExpr(
            "aid", "vec_id",
            "CAST(floor(CAST(aggregate(zip_with(aq, q, (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v) AS DOUBLE)"
            " / sqrt(CAST(anrm AS DOUBLE) * nrm) * 1000000) AS BIGINT)"
            " AS cos_micro",
        )
    )
    best = Window.partitionBy("aid").orderBy(
        F.desc("cos_micro"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where("rk = 1")
        .selectExpr("aid AS anchor_id", "vec_id AS hard_negative_id",
                    "cos_micro")
    )


_Q8E_D = ("list_transform(embedding,"
          " v -> CAST(floor(CAST(v AS DOUBLE) * 127.0) AS BIGINT))")

PIPELINE_HARD_NEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, {_Q8E_D} AS q,
         list_sum(list_transform({_Q8E_D}, v -> v * v)) AS nrm
  FROM embeddings
), anchors AS (
  SELECT vec_id AS aid, label AS alabel, q AS aq, nrm AS anrm
  FROM q WHERE vec_id % {_HN_MOD} = 0
), scored AS (
  SELECT aid, vec_id,
         CAST(floor(CAST(list_sum(list_transform(
               generate_series(1, len(aq)), i -> aq[i] * q.q[i])) AS DOUBLE)
              / sqrt(CAST(anrm AS DOUBLE) * nrm) * 1000000) AS BIGINT)
           AS cos_micro
  FROM q CROSS JOIN anchors
  WHERE label <> alabel
), ranked AS (
  SELECT aid, vec_id, cos_micro,
         row_number() OVER (PARTITION BY aid
             ORDER BY cos_micro DESC, vec_id) AS rk
  FROM scored
)
SELECT aid AS anchor_id, vec_id AS hard_negative_id, cos_micro
FROM ranked WHERE rk = 1
"""


SPECS += [
    QuerySpec("q_abc_migration", q_abc_migration, Q_ABC_MIGRATION_ORACLE,
              "A/B/C class transition matrix between time halves",
              ("analytics", "rank")),
    QuerySpec("pipeline_hard_negatives", pipeline_hard_negatives,
              PIPELINE_HARD_NEG_ORACLE,
              "hardest different-label negative per anchor, exact int8 cosine",
              ("pipeline", "similarity", "trainprep")),
]


# --- market concentration (HHI) -----------------------------------------------
# Herfindahl-Hirschman index of supplier revenue concentration within
# each nation — the antitrust/market-structure readout. HHI = Σ s_i²
# over supplier shares, exact: Σ r_i² * 10000 div T² in basis points
# (10000 = monopoly). Supplier revenue from one lineitem rollup +
# broadcast supplier dim; the per-nation Σr² is map-side after one
# (nation) shuffle of supplier subtotals.

def q_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_suppkey", "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long")
             .alias("r"))
    )
    return (
        per_supp.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.expr("CAST(r AS DECIMAL(38,0))")).alias("t"),
            F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * r")).alias("rr"),
        )
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .selectExpr(
            "n_name AS nation", "n_suppliers",
            "CAST(t AS BIGINT) AS revenue_cents",
            "CAST(rr * 10000 div (t * t) AS BIGINT) AS hhi_bps",
        )
    )


Q_HHI_ORACLE = """
WITH per_supp AS (
  SELECT s_nationkey, l_suppkey,
         CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
              AS HUGEINT)) AS BIGINT) AS r
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), per_nation AS (
  SELECT s_nationkey, COUNT(*) AS n_suppliers,
         SUM(CAST(r AS HUGEINT)) AS t,
         SUM(CAST(r AS HUGEINT) * r) AS rr
  FROM per_supp GROUP BY 1
)
SELECT n_name AS nation, n_suppliers,
       CAST(t AS BIGINT) AS revenue_cents,
       CAST(rr * 10000 // (t * t) AS BIGINT) AS hhi_bps
FROM per_nation JOIN nation ON s_nationkey = n_nationkey
"""


# --- new-product adoption ramp ------------------------------------------------
# Parts cohorted by their FIRST ship month; the ramp = revenue in
# months 0/1/2 since introduction, per intro-month cohort. The
# first-sale map is a per-part min (one shuffle); the month delta uses
# portable epoch month arithmetic (year*12+month from date parts —
# date_trunc month diffs are not integer-safe across engines).

def q_adoption_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
    )
    first = li.groupBy("l_partkey").agg(F.min("ym").alias("intro_ym"))
    return (
        li.join(first, "l_partkey")
        .where("ym - intro_ym <= 2")
        .groupBy("intro_ym", F.expr("ym - intro_ym").alias("months_since"))
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long")
            .alias("revenue_cents"),
        )
    )


Q_ADOPTION_ORACLE = """
WITH li AS (
  SELECT l_partkey,
         year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), first AS (
  SELECT l_partkey, MIN(ym) AS intro_ym FROM li GROUP BY 1
)
SELECT intro_ym, ym - intro_ym AS months_since,
       COUNT(DISTINCT li.l_partkey) AS n_parts,
       CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS revenue_cents
FROM li JOIN first ON li.l_partkey = first.l_partkey
WHERE ym - intro_ym <= 2
GROUP BY 1, 2
"""


SPECS += [
    QuerySpec("q_hhi_by_nation", q_hhi_by_nation, Q_HHI_ORACLE,
              "Herfindahl supplier-concentration index per nation, exact bps",
              ("analytics", "finance")),
    QuerySpec("q_adoption_ramp", q_adoption_ramp, Q_ADOPTION_ORACLE,
              "new-part revenue ramp by intro-month cohort (months 0-2)",
              ("analytics", "cohort")),
]


# --- association-rule confidence ----------------------------------------------
# Lift is symmetric; RULES are directional. For a -> b: confidence =
# P(b|a) = n_ab/n_a, and conviction's log-free cousin "lift of the
# rule" rides along. Both directions of every supported pair, top-20 by
# confidence — the actual recommender-rule output. Exact milli ratios.

_RULE_MIN_PAIRS = 3
_RULE_TOP = 20


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    pairs = baskets.select(F.explode(F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS pa, y AS pb))))")).alias("p")).select("p.pa", "p.pb")
    pc = pairs.groupBy("pa", "pb").agg(F.count("*").alias("n_ab")).where(
        f"n_ab >= {_RULE_MIN_PAIRS}")
    rules = pc.selectExpr("pa AS lhs", "pb AS rhs", "n_ab").unionByName(
        pc.selectExpr("pb AS lhs", "pa AS rhs", "n_ab"))
    item = li.distinct().groupBy("l_partkey").agg(F.count("*").alias("n_i"))
    return (
        rules.join(F.broadcast(item.selectExpr("l_partkey AS lhs",
                                               "n_i AS n_lhs")), "lhs")
        .selectExpr("lhs", "rhs", "n_ab",
                    "n_ab * 1000 div n_lhs AS confidence_milli")
        .orderBy(F.desc("confidence_milli"), "lhs", "rhs")
        .limit(_RULE_TOP)
    )


Q_BASKET_RULES_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pc AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n_ab
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_RULE_MIN_PAIRS}
), rules AS (
  SELECT pa AS lhs, pb AS rhs, n_ab FROM pc
  UNION ALL
  SELECT pb, pa, n_ab FROM pc
), item AS (
  SELECT l_partkey, COUNT(*) AS n_i FROM b GROUP BY 1
)
SELECT lhs, rhs, n_ab, n_ab * 1000 // n_i AS confidence_milli
FROM rules JOIN item ON l_partkey = lhs
ORDER BY confidence_milli DESC, lhs, rhs LIMIT {_RULE_TOP}
"""


# --- conversion-window sensitivity sweep --------------------------------------
# The funnel family's tuning readout: view->purchase conversion counted
# at THREE attribution windows (1h / 24h / 72h) in ONE pass — per
# purchase, the time since the user's latest preceding view (an aligned
# IGNORE-NULLS carry, the q_attribution_last_touch machinery), then a
# map-side bucket into each window. How sensitive the reported
# conversion rate is to the window IS the decision input.

_CW_WINDOWS_MS = (3_600_000, 86_400_000, 259_200_000)


def q_conversion_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")).selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms", "event_id")
    w = (
        Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "last_view_ms",
        F.last(F.expr("CASE WHEN event_type = 'view' THEN ts_ms END"),
               ignorenulls=True).over(w))
    purchases = carried.where("event_type = 'purchase'")
    cases = ", ".join(
        f"CAST(last_view_ms IS NOT NULL AND ts_ms - last_view_ms <= {ms}"
        f" AS BIGINT) AS in_w{i}"
        for i, ms in enumerate(_CW_WINDOWS_MS))
    flags = purchases.selectExpr("ts_ms", cases.split(", ")[0],
                                 *cases.split(", ")[1:])
    agg = flags.agg(
        F.count("*").alias("n_purchases"),
        *[F.sum(f"in_w{i}").alias(f"c{i}") for i in range(len(_CW_WINDOWS_MS))],
    )
    stack = ", ".join(
        f"'{ms // 3_600_000}h', c{i}, c{i} * 1000000 div n_purchases"
        for i, ms in enumerate(_CW_WINDOWS_MS))
    return agg.selectExpr(
        f"stack({len(_CW_WINDOWS_MS)}, {stack})"
        " AS (window_label, n_attributed, conversion_ppm)",
        "n_purchases",
    )


_CW_CASES_D = ", ".join(
    f"CAST(SUM(CAST(last_view_ms IS NOT NULL AND ts_ms - last_view_ms <= {ms}"
    f" AS BIGINT)) AS BIGINT) AS c{i}"
    for i, ms in enumerate(_CW_WINDOWS_MS))

Q_CONVERSION_SWEEP_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type IN ('view', 'purchase')
), carried AS (
  SELECT event_type, ts_ms,
         last_value(CASE WHEN event_type = 'view' THEN ts_ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_ms
  FROM ev
), agg AS (
  SELECT COUNT(*) AS n_purchases, {_CW_CASES_D}
  FROM carried WHERE event_type = 'purchase'
)
{" UNION ALL ".join(
    f"SELECT '{ms // 3_600_000}h' AS window_label, c{i} AS n_attributed,"
    f" c{i} * 1000000 // n_purchases AS conversion_ppm,"
    f" n_purchases FROM agg"
    for i, ms in enumerate(_CW_WINDOWS_MS))}
"""


SPECS += [
    QuerySpec("q_basket_rules", q_basket_rules, Q_BASKET_RULES_ORACLE,
              "directional association rules: top-20 by exact confidence",
              ("analytics", "basket")),
    QuerySpec("q_conversion_window_sweep", q_conversion_window_sweep,
              Q_CONVERSION_SWEEP_ORACLE,
              "view->purchase conversion at 1h/24h/72h windows in one pass",
              ("analytics", "funnel")),
]


# --- Durbin-Watson statistic --------------------------------------------------
# Regression-diagnostics staple: DW = Σ(e_t - e_{t-1})² / Σe_t² over
# the decomposition residuals — ~2 means no residual autocorrelation
# (the decomposition captured the structure), <1 means the model left
# serial correlation on the table. Exact integer sums of squares
# (DECIMAL-held, they overflow BIGINT), one lag window over the
# calendar-bounded residual series; DW itself floors to milli.

def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    resid = q_seasonal_decompose(spark, sf_dir).selectExpr(
        "day_ms", "x - trend - seasonal AS e").where("e IS NOT NULL")
    w = Window.orderBy("day_ms")
    diffed = resid.withColumn("prev", F.lag("e").over(w))
    return diffed.agg(
        F.count("*").alias("n"),
        F.sum(F.expr(
            "CASE WHEN prev IS NOT NULL"
            " THEN CAST(e - prev AS DECIMAL(38,0)) * (e - prev) END"
        )).alias("ssd"),
        F.sum(F.expr("CAST(e AS DECIMAL(38,0)) * e")).alias("sse"),
    ).selectExpr(
        "n",
        "CAST(ssd * 1000 div sse AS BIGINT) AS dw_milli",
    )


Q_DW_ORACLE = f"""
WITH decomp AS (
  {Q_SEASONAL_ORACLE}
), resid AS (
  SELECT day_ms, x - trend - seasonal AS e
  FROM decomp WHERE x - trend - seasonal IS NOT NULL
), diffed AS (
  SELECT e, lag(e) OVER (ORDER BY day_ms) AS prev FROM resid
)
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN prev IS NOT NULL
            THEN CAST(e - prev AS HUGEINT) * (e - prev) END) * 1000
            // SUM(CAST(e AS HUGEINT) * e) AS BIGINT) AS dw_milli
FROM diffed
"""


SPECS += [
    QuerySpec("q_durbin_watson", q_durbin_watson, Q_DW_ORACLE,
              "Durbin-Watson residual autocorrelation diagnostic, exact",
              ("analytics", "stats", "timeseries")),
]


# --- Kendall tau-b rank correlation -------------------------------------------
# Completes the rank-correlation family (Spearman above, Mann-Kendall's S on
# the time axis): concordant/discordant PAIR counting with full tie
# correction. The fact table never self-joins — quantity is integral and
# price is banded, so the data collapses to a ~50 x ~25 CELL GRID first
# (one shuffle, map-side partial agg); C and D are then cell-pair products
# over the tiny grid (a broadcast inequality join whose size is
# data-volume-INDEPENDENT, like Mann-Kendall's calendar-bounded sign join).
# Pair counts ride as DECIMAL(38,0)/HUGEINT (C ~ n^2/2 exceeds BIGINT near
# n ~ 4e9 — the Spearman lesson); only n and the floored tau_b micro ratio
# are emitted. Denominator identity used: sqrt(n0-Tx)*sqrt(n0-Ty) with
# n0 = n(n-1)/2 equals sqrt(2n0-2Tx)*sqrt(2n0-2Ty)/2, so we track the
# always-even doubled tie terms TX2 = sum t(t-1), TY2 and avoid /2 floors.

_KT_BAND = 5000


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(round(l_quantity) AS BIGINT) AS x",
            f"CAST(floor(l_extendedprice / {_KT_BAND}) AS BIGINT) AS y",
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
    )
    a = cells.selectExpr("x AS xa", "y AS ya", "c AS ca")
    b = cells.selectExpr("x AS xb", "y AS yb", "c AS cb")
    cd = a.join(F.broadcast(b), F.col("xb") < F.col("xa")).agg(
        F.sum(F.expr(
            "CASE WHEN yb < ya THEN CAST(ca AS DECIMAL(38,0)) * cb ELSE 0 END"
        )).alias("conc"),
        F.sum(F.expr(
            "CASE WHEN yb > ya THEN CAST(ca AS DECIMAL(38,0)) * cb ELSE 0 END"
        )).alias("disc"),
    )
    n_row = cells.agg(
        F.sum("c").alias("n"), F.count("*").alias("n_cells")
    )
    tx_row = (
        cells.groupBy("x").agg(F.sum("c").alias("t"))
        .agg(F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * (t - 1)")).alias("tx2"))
    )
    ty_row = (
        cells.groupBy("y").agg(F.sum("c").alias("t"))
        .agg(F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * (t - 1)")).alias("ty2"))
    )
    return (
        cd.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(tx_row))
        .crossJoin(F.broadcast(ty_row))
        .selectExpr(
            "n", "n_cells",
            "CAST(floor(2.0 * CAST(conc - disc AS DOUBLE) * 1000000.0"
            " / (sqrt(CAST(n AS DOUBLE) * (n - 1) - CAST(tx2 AS DOUBLE))"
            " * sqrt(CAST(n AS DOUBLE) * (n - 1) - CAST(ty2 AS DOUBLE))))"
            " AS BIGINT) AS tau_b_micro",
        )
    )


Q_KENDALL_ORACLE = f"""
WITH cells AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(floor(l_extendedprice / {_KT_BAND}) AS BIGINT) AS y,
         COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
), cd AS (
  SELECT SUM(CASE WHEN b.y < a.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
           AS conc,
         SUM(CASE WHEN b.y > a.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
           AS disc
  FROM cells a JOIN cells b ON b.x < a.x
), n_row AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_cells FROM cells
), tx_row AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx2
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)
), ty_row AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty2
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)
)
SELECT n, n_cells,
       CAST(floor(2.0 * CAST(conc - disc AS DOUBLE) * 1000000.0
        / (sqrt(CAST(n AS DOUBLE) * (n - 1) - CAST(tx2 AS DOUBLE))
         * sqrt(CAST(n AS DOUBLE) * (n - 1) - CAST(ty2 AS DOUBLE))))
        AS BIGINT) AS tau_b_micro
FROM cd, n_row, tx_row, ty_row
"""


SPECS += [
    QuerySpec("q_kendall_tau", q_kendall_tau, Q_KENDALL_ORACLE,
              "Kendall tau-b with tie correction over the quantity/price grid",
              ("analytics", "stats")),
]


# --- integer-exact EWMA of the daily revenue series ---------------------------
# Exponential smoothing is the one classic time-series operator float
# recursion makes non-portable (s_t = a*x_t + (1-a)*s_{t-1} accumulates
# rounding in arrival order). This is the order-independent form: a
# 21-day truncated kernel with RATIONAL decay 9/10 per day, each weight
# the exact integer 9^d * 10^(20-d), products and sums ridden as
# DECIMAL(38,0)/HUGEINT, one floored division at the end. The kernel
# join is an equi-join: each anchor day explodes its 21 (day - d) keys
# MAP-SIDE and hash-joins the daily aggregate — no range predicate, no
# BNLJ, and the whole computation after the first rollup touches only
# calendar-bounded rows. Truncation error vs the infinite kernel is
# (9/10)^21 < 11% of total weight, constant and engine-identical.

EWMA_SPAN = 21          # kernel length in days
EWMA_NUM, EWMA_DEN = 9, 10  # per-day decay 9/10
_EWMA_W = [EWMA_NUM ** d * EWMA_DEN ** (EWMA_SPAN - 1 - d)
           for d in range(EWMA_SPAN)]


def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            f"unix_millis(o_orderdate) - pmod(unix_millis(o_orderdate), {DAY_MS})"
            " AS day_ms",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day_ms")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(28,0))")).cast("long").alias("x"))
    )
    w_case = " ".join(
        f"WHEN {d} THEN CAST({w} AS DECIMAL(38,0))"
        for d, w in enumerate(_EWMA_W)
    )
    probes = daily.selectExpr(
        "day_ms AS anchor_ms", f"explode(sequence(0, {EWMA_SPAN - 1})) AS d"
    ).selectExpr("anchor_ms", "d", f"anchor_ms - d * {DAY_MS} AS day_ms")
    return (
        probes.join(daily, "day_ms")
        .selectExpr("anchor_ms", f"CASE d {w_case} END AS w", "x")
        .groupBy("anchor_ms")
        .agg(
            F.count("*").alias("n_days_in_kernel"),
            F.expr("CAST(sum(w * x) * 1000 div sum(w) AS BIGINT)")
            .alias("ewma_cents_milli"),
        )
        .selectExpr("anchor_ms AS day_ms", "n_days_in_kernel",
                    "ewma_cents_milli")
    )


_EWMA_W_CASE_D = " ".join(
    f"WHEN {d} THEN CAST({w} AS HUGEINT)" for d, w in enumerate(_EWMA_W)
)
Q_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), probes AS (
  SELECT day_ms AS anchor_ms, d, day_ms - d * {DAY_MS} AS day_ms_probe
  FROM daily CROSS JOIN (SELECT unnest(range({EWMA_SPAN})) AS d)
), joined AS (
  SELECT p.anchor_ms, CASE p.d {_EWMA_W_CASE_D} END AS w, daily.x
  FROM probes p JOIN daily ON daily.day_ms = p.day_ms_probe
)
SELECT anchor_ms AS day_ms, COUNT(*) AS n_days_in_kernel,
       CAST(SUM(w * x) * 1000 // SUM(w) AS BIGINT) AS ewma_cents_milli
FROM joined GROUP BY 1
"""


SPECS += [
    QuerySpec("q_ewma_daily", q_ewma_daily, Q_EWMA_ORACLE,
              "order-independent EWMA: rational 21-day kernel, exact integers",
              ("analytics", "timeseries")),
]


# --- degree assortativity of the co-purchase graph ----------------------------
# Do hub products co-occur with hubs (r > 0) or with the long tail
# (r < 0)? Pearson correlation of endpoint degrees over every DIRECTED
# edge — the standard network-mixing diagnostic that, with triangle
# count above, characterizes the graph the recommender families
# (co-purchase pairs/lift) operate on. Same basket-bounded edge builder
# as graph_triangle_count; degree moments ride DECIMAL(38,0)/HUGEINT
# (sums of d^2 over edges grow like the second degree moment — BIGINT
# dies on power-law graphs long before 100 TB). Both orientations are
# folded symmetrically (x-sums = y-sums), so one undirected edge row
# contributes both directions without materializing the reversed list.

def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    deg = (
        edges.selectExpr("pa AS v").unionAll(edges.selectExpr("pb AS v"))
        .groupBy("v").agg(F.count("*").alias("d"))
    )
    de = (
        edges
        .join(F.broadcast(deg.selectExpr("v AS pa", "d AS da")), "pa")
        .join(F.broadcast(deg.selectExpr("v AS pb", "d AS db")), "pb")
    )
    sums = de.agg(
        F.count("*").alias("n_edges"),
        F.sum(F.expr("CAST(da AS DECIMAL(38,0)) + db")).alias("sx"),
        F.sum(F.expr("CAST(da AS DECIMAL(38,0)) * da"
                     " + CAST(db AS DECIMAL(38,0)) * db")).alias("sxx"),
        F.sum(F.expr("2 * CAST(da AS DECIMAL(38,0)) * db")).alias("sxy"),
    )
    return sums.selectExpr(
        "n_edges",
        "CASE WHEN 2.0 * n_edges * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL"
        " ELSE CAST(floor((2.0 * n_edges * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0"
        " / (2.0 * n_edges * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)"
        " END AS assortativity_micro",
    )


GRAPH_ASSORT_ORACLE = """
WITH bp AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM bp a JOIN bp b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT pa AS v FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY 1
), de AS (
  SELECT da.d AS da, db.d AS db
  FROM edges JOIN deg da ON da.v = pa JOIN deg db ON db.v = pb
), s AS (
  SELECT COUNT(*) AS n_edges,
         SUM(CAST(da AS HUGEINT) + db) AS sx,
         SUM(CAST(da AS HUGEINT) * da + CAST(db AS HUGEINT) * db) AS sxx,
         SUM(2 * CAST(da AS HUGEINT) * db) AS sxy
  FROM de
)
SELECT n_edges,
       CASE WHEN 2.0 * n_edges * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
            ELSE CAST(floor((2.0 * n_edges * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0
                 / (2.0 * n_edges * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
       END AS assortativity_micro
FROM s
"""


SPECS += [
    QuerySpec("graph_degree_assortativity", graph_degree_assortativity,
              GRAPH_ASSORT_ORACLE,
              "degree-degree Pearson mixing over co-purchase edges, exact moments",
              ("analytics", "graph")),
]


# --- k-core peel cascade on the co-purchase graph -----------------------------
# Iterative graph peeling: drop every node of degree < K, recount, repeat
# — the degeneracy primitive behind community cores and graph cleanup.
# This corpus's co-purchase graph has a NARROW (Poisson-like) degree
# spread, so a threshold inside it makes the peel CASCADE to empty; the
# operator therefore reports the collapse trajectory itself — nodes and
# edges surviving each of R fixed rounds — which is the well-defined,
# scale-stable signature (a hub-and-spoke graph would instead stabilize
# at its core). Each round is one degree rollup + two semi-joins on the
# shrinking edge list, lineage-truncated per round with localCheckpoint
# (the dedup_components lesson: without truncation round r replays all
# r-1 predecessors). Fixed R on BOTH engines — once the edge set is
# empty further rounds are no-ops, so the fixed-round output equals the
# fixpoint whenever the peel converges within R.

KCORE_K = 90
KCORE_ROUNDS = 8


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    # Storage-memory bound (VERDICT r5 / SCALING.md finding 6): the old
    # form held EVERY round's localCheckpoint blocks (2x edge rows x
    # live rounds) to job end — at the sf1 leg that saturated a single
    # box's storage memory (a_tail 1.19 at 16 GB vs 0.98 at 28 GB).
    # localCheckpoint itself stays load-bearing: chaining persist()
    # instead nests each round's plan inside the next and the cached
    # plan STRING alone OOMs the driver by round ~6 (measured). Each
    # round's trajectory statistic is ONE row, so: checkpoint round r
    # (truncating lineage), collect its one-row stat, then immediately
    # evict round r-1's now-dead blocks — at most TWO generations of
    # edge blocks are ever live, independent of round count. The
    # per-round collect is bounded driver state (KCORE_ROUNDS rows).
    def _evict(df: DataFrame) -> None:
        # A localCheckpoint'ed frame's plan is a LogicalRDD; unpersist
        # its backing RDD to free the blocks before job end (private API
        # via py4j).
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)

    cur = (
        edges.selectExpr("pa AS u", "pb AS v")
        .unionAll(edges.selectExpr("pb AS u", "pa AS v"))
        .localCheckpoint(eager=True)
    )
    # Round r's trajectory stat (distinct nodes, edge count) is exactly
    # the row count and degree sum of round r+1's DEGREE table — so the
    # degree rollup is computed ONCE per round, checkpointed, counted
    # for the stat, and reused as the next round's keep-filter input
    # (r10, guide §2.4: the per-round countDistinct shuffle over the
    # full edge list duplicated the next round's groupBy). The first
    # degree table is eager because `keep` feeds TWO semi joins — a
    # lazy checkpoint referenced twice in one job risks double compute;
    # every later one is already materialized by its own stat action.
    deg = cur.groupBy("u").agg(F.count("*").alias("d")).localCheckpoint(
        eager=True)
    rows: list[tuple[int, int, int]] = []
    emptied = False
    for r in range(1, KCORE_ROUNDS + 1):
        if emptied:
            # Peel fixpoint: once the edge set is empty every further
            # round is a no-op — emit the zero trajectory row directly,
            # none of the dead rounds' plan+materialization constants.
            rows.append((r, 0, 0))
            continue
        keep = deg.where(F.col("d") >= KCORE_K).select("u")
        # LAZY checkpoints (r9): the round's stat collect is the first
        # action over nxt AND deg_next, so it materializes both
        # checkpoint chains as a side effect and the round pays ONE job
        # (eager-materialize + countDistinct-stat was 2 jobs + an extra
        # shuffle before). Measured at sf0.1 (isolated JVM): 16 -> 9
        # jobs (r9), then minus one shuffle per round (r10).
        nxt = (
            cur.join(keep, "u", "left_semi")
            .join(keep.selectExpr("u AS v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        deg_next = nxt.groupBy("u").agg(
            F.count("*").alias("d")).localCheckpoint(eager=False)
        stat = deg_next.agg(
            F.count("*").alias("n_nodes"),
            F.expr("CAST(coalesce(sum(d), 0) AS BIGINT) div 2")
            .alias("n_edges"),
        ).collect()[0]
        _evict(cur)  # round r-1's blocks are dead once round r is live
        _evict(deg)
        cur, deg = nxt, deg_next
        rows.append((r, stat["n_nodes"], stat["n_edges"]))
        emptied = stat["n_edges"] == 0
    _evict(cur)
    _evict(deg)
    return local_literal_df(
        spark, rows, "round INT, n_nodes BIGINT, n_edges BIGINT")


def _kcore_oracle() -> str:
    # every e{r} is referenced three times (next round's degree rollup,
    # next round's edge filter, and its own trajectory SELECT) — without
    # MATERIALIZED, DuckDB inlines CTEs and the base scan fans out 3^R-fold
    # (observed: fd exhaustion at R=8).
    parts = ["""WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, c.l_partkey AS pb
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
), e0 AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
)"""]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f""", k{r} AS MATERIALIZED (
  SELECT u FROM (SELECT u, COUNT(*) AS d FROM e{r-1} GROUP BY 1)
  WHERE d >= {KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT c.u, c.v FROM e{r-1} c
  JOIN k{r} a ON c.u = a.u JOIN k{r} b2 ON c.v = b2.u
)""")
    selects = [
        f"SELECT {r} AS round, COUNT(DISTINCT u) AS n_nodes,"
        f" COUNT(*) // 2 AS n_edges FROM e{r}"
        for r in range(1, KCORE_ROUNDS + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


Q_KCORE_ORACLE = _kcore_oracle()


SPECS += [
    QuerySpec("graph_kcore_peel", graph_kcore_peel, Q_KCORE_ORACLE,
              "iterative degree-threshold peel: collapse trajectory over 8 rounds",
              ("graph", "iterative")),
]


# --- Holt double-exponential smoothing (per-user, exact integers) ------------
# The classical-forecasting recurrence next to q_forecast_baseline's
# naive/seasonal baselines: level+trend smoothing with alpha = beta =
# 1/4, over each user's OBSERVATION-INDEXED daily cents series. A true
# sequential recurrence (state t depends on t-1), folded per key as a
# JVM-side ``aggregate`` over the collected day-sorted series; all
# arithmetic is scaled 64-bit integers with TRUNCATING division (Spark
# `div` / DuckDB `//` both truncate toward zero), so the oracle replays
# the recurrence exactly as a recursive CTE stepping every user's
# series in lockstep.
#   l_t = (Y_t + 3*(l_{t-1} + b_{t-1})) tdiv 4      (Y in micro-cents)
#   b_t = ((l_t - l_{t-1}) + 3*b_{t-1}) tdiv 4
#   forecast = l_n + b_n

HOLT_SCALE = 1_000_000


def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential per-user recurrence as a JVM-side array fold: each
    user's day-sorted series is collected once, then ``aggregate`` steps
    the (level, trend) state inside whole-stage codegen — no Python in
    the loop (a per-key applyInPandas automaton computed the same fold
    3x slower on per-group Arrow + interpreter overhead). State per
    user is two BIGINTs; Spark ``div`` and DuckDB ``//`` both truncate
    toward zero, so the integer trajectory is engine-identical."""
    daily = (
        load_table(spark, sf_dir, "events")
        .selectExpr("user_id",
                    "CAST(unix_millis(ts) div 86400000 AS BIGINT) AS d",
                    "CAST(round(value * 100) AS BIGINT) AS cents")
        .groupBy("user_id", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    series = daily.groupBy("user_id").agg(
        F.expr("sort_array(collect_list(struct(d, cents)))").alias("sc"),
        F.count("*").alias("n_days"),
    )
    lvl = f"(x.cents * {HOLT_SCALE} + 3 * (acc.lvl + acc.trend)) div 4"
    folded = series.selectExpr(
        "user_id", "CAST(n_days AS BIGINT) AS n_days",
        f"""aggregate(
              sc,
              named_struct('lvl', CAST(0 AS BIGINT),
                           'trend', CAST(0 AS BIGINT), 'init', false),
              (acc, x) -> CASE WHEN NOT acc.init
                THEN named_struct('lvl', x.cents * {HOLT_SCALE},
                                  'trend', CAST(0 AS BIGINT), 'init', true)
                ELSE named_struct(
                  'lvl', {lvl},
                  'trend', (({lvl}) - acc.lvl + 3 * acc.trend) div 4,
                  'init', true) END
            ) AS st""",
    )
    return folded.selectExpr(
        "user_id", "n_days",
        "st.lvl AS level_micro", "st.trend AS trend_micro",
        "st.lvl + st.trend AS forecast_micro",
    )


TS_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id, cents * {HOLT_SCALE} AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS idx,
         COUNT(*) OVER (PARTITION BY user_id) AS n_days
  FROM daily
), step(user_id, idx, lvl, trend, n_days) AS (
  SELECT user_id, idx, y, CAST(0 AS BIGINT), n_days
  FROM series WHERE idx = 1
  UNION ALL
  SELECT s.user_id, s.idx,
         (s.y + 3 * (r.lvl + r.trend)) // 4,
         (((s.y + 3 * (r.lvl + r.trend)) // 4) - r.lvl + 3 * r.trend) // 4,
         r.n_days
  FROM step r JOIN series s
    ON s.user_id = r.user_id AND s.idx = r.idx + 1
)
SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
       lvl AS level_micro, trend AS trend_micro,
       lvl + trend AS forecast_micro
FROM step WHERE idx = n_days
"""


SPECS += [
    QuerySpec("ts_holt_forecast", ts_holt_forecast, TS_HOLT_ORACLE,
              "Holt level+trend smoothing per user, integer-exact recurrence",
              ("timeseries", "forecast", "stateful")),
]


# --- label-propagation community detection (synchronous, 3 rounds) ----------
# The community-structure companion to graph_kcore_peel on the same
# co-purchase graph (parts sharing an order basket). Classic synchronous
# LPA: every node starts in its own community (label = part key); each
# round it adopts the most frequent label among its neighbors, ties
# broken toward the SMALLEST label so the fixture is deterministic
# (async LPA's tie coin-flips are the non-reproducible part — the
# synchronous min-tie variant is the one you can oracle-check). Output
# is the convergence trajectory: communities collapse round over round.
#
# Scale: each round is one equi-join (edges ⋈ labels on the neighbor
# key) + one (node, label) count + one argmax — all key-partitioned
# shuffles on node id; the argmax is max(struct(cnt, -label)), no
# window. localCheckpoint between rounds truncates the lineage exactly
# like the k-core peel. Rounds are bounded (3), not run-to-convergence:
# at 100 TB you budget rounds, checkpoint state, and measure the
# community histogram per round — which is precisely the emitted shape.

LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    e = (
        edges.selectExpr("pa AS u", "pb AS v")
        .unionAll(edges.selectExpr("pb AS u", "pa AS v"))
        .localCheckpoint(eager=True)
    )
    labels = e.select("u").distinct().withColumn("label", F.col("u"))
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        nb = e.join(labels.selectExpr("u AS v", "label"), "v")
        counts = nb.groupBy("u", "label").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("u")
            .agg(F.max(F.struct("c", (-F.col("label")).alias("nl"))).alias("m"))
            .selectExpr("u", "-m.nl AS label")
            .localCheckpoint(eager=True)
        )
        sizes = labels.groupBy("label").agg(F.count("*").alias("sz"))
        rounds.append(sizes.agg(
            F.lit(r).alias("round"),
            F.count("*").alias("n_communities"),
            F.max("sz").alias("largest_size"),
        ))
    out = rounds[0]
    for nxt in rounds[1:]:
        out = out.unionAll(nxt)
    return out


def _lpa_oracle() -> str:
    parts = ["""WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, c.l_partkey AS pb
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
), e0 AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
), l0 AS MATERIALIZED (
  SELECT DISTINCT u, u AS label FROM e0
)"""]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f""", c{r} AS MATERIALIZED (
  SELECT e.u, l.label, COUNT(*) AS c
  FROM e0 e JOIN l{r-1} l ON e.v = l.u GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT u, label FROM c{r}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, label ASC) = 1
)""")
    selects = [
        f"SELECT {r} AS round,"
        f" CAST(COUNT(*) AS BIGINT) AS n_communities,"
        f" CAST(MAX(sz) AS BIGINT) AS largest_size FROM"
        f" (SELECT label, COUNT(*) AS sz FROM l{r} GROUP BY 1)"
        for r in range(1, LPA_ROUNDS + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


Q_LPA_ORACLE = _lpa_oracle()


SPECS += [
    QuerySpec("graph_label_propagation", graph_label_propagation, Q_LPA_ORACLE,
              "synchronous min-tie LPA communities: collapse trajectory over 3 rounds",
              ("graph", "iterative")),
]


# --- Holt-Winters: additive seasonal triple smoothing (period 7) ------------
# Completes the classical-smoothing ladder (EWMA → Holt → Holt-Winters):
# level + trend + a weekly additive seasonal component, alpha = beta =
# gamma = 1/4, over each user's observation-indexed daily cents series.
# Same integer-exact contract as ts_holt_forecast (micro-scaled 64-bit
# ints, truncating division mirrored across all three engines); the
# seasonal lag makes the state a bounded ring of the last 7 seasonal
# terms, which the oracle carries as a LIST column through the recursive
# CTE — the recurrence is replayed exactly, not approximated.
# Init: first observation seeds the level; seasonal terms warm up from 0
# until a full period of history exists (s_prev = 0 while t <= 7).
#
# Scale: JVM-side per-key array fold (the ts_holt_forecast pattern) —
# state is O(period) per user, keys distribute, no global order.

HW_PERIOD = 7


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-smoothing recurrence as a codegen'd ``aggregate`` fold:
    the accumulator struct carries (level, trend, ring of the last
    HW_PERIOD seasonal terms); no Python in the loop. Truncating `div`
    matches DuckDB `//` and keeps the trajectory engine-identical."""
    daily = (
        load_table(spark, sf_dir, "events")
        .selectExpr("user_id",
                    "CAST(unix_millis(ts) div 86400000 AS BIGINT) AS d",
                    "CAST(round(value * 100) AS BIGINT) AS cents")
        .groupBy("user_id", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    series = daily.groupBy("user_id").agg(
        F.expr("sort_array(collect_list(struct(d, cents)))").alias("sc"),
        F.count("*").alias("n_days"),
    )
    y = f"(x.cents * {HOLT_SCALE})"
    sprev = (f"(CASE WHEN size(acc.ring) = {HW_PERIOD}"
             " THEN element_at(acc.ring, 1) ELSE CAST(0 AS BIGINT) END)")
    lvl = f"(({y} - {sprev} + 3 * (acc.lvl + acc.trend)) div 4)"
    trend = f"(({lvl} - acc.lvl + 3 * acc.trend) div 4)"
    s = f"(({y} - {lvl} + 3 * {sprev}) div 4)"
    ring = (f"slice(concat(acc.ring, array({s})),"
            f" greatest(size(acc.ring) - {HW_PERIOD - 2}, 1), {HW_PERIOD})")
    folded = series.selectExpr(
        "user_id", "CAST(n_days AS BIGINT) AS n_days",
        f"""aggregate(
              sc,
              named_struct('lvl', CAST(0 AS BIGINT),
                           'trend', CAST(0 AS BIGINT),
                           'ring', CAST(array() AS ARRAY<BIGINT>),
                           'init', false),
              (acc, x) -> CASE WHEN NOT acc.init
                THEN named_struct('lvl', {y}, 'trend', CAST(0 AS BIGINT),
                                  'ring', array(CAST(0 AS BIGINT)),
                                  'init', true)
                ELSE named_struct('lvl', {lvl}, 'trend', {trend},
                                  'ring', {ring}, 'init', true) END
            ) AS st""",
    )
    return folded.selectExpr(
        "user_id", "n_days",
        "st.lvl AS level_micro", "st.trend AS trend_micro",
        f"CASE WHEN size(st.ring) = {HW_PERIOD} THEN element_at(st.ring, 1)"
        " ELSE CAST(0 AS BIGINT) END AS season_micro",
        f"st.lvl + st.trend + (CASE WHEN size(st.ring) = {HW_PERIOD}"
        " THEN element_at(st.ring, 1) ELSE CAST(0 AS BIGINT) END)"
        " AS forecast_micro",
    )


def _hw_oracle() -> str:
    sprev = f"CASE WHEN len(r.slist) = {HW_PERIOD} THEN r.slist[1] ELSE 0 END"
    lexp = f"(s.y - ({sprev}) + 3 * (r.lvl + r.trend)) // 4"
    bexp = f"(({lexp}) - r.lvl + 3 * r.trend) // 4"
    sexp = f"(s.y - ({lexp}) + 3 * ({sprev})) // 4"
    return f"""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id, cents * {HOLT_SCALE} AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS idx,
         COUNT(*) OVER (PARTITION BY user_id) AS n_days
  FROM daily
), step(user_id, idx, lvl, trend, slist, n_days) AS (
  SELECT user_id, idx, y, CAST(0 AS BIGINT), [CAST(0 AS BIGINT)], n_days
  FROM series WHERE idx = 1
  UNION ALL
  SELECT s.user_id, s.idx, {lexp}, {bexp},
         CASE WHEN len(r.slist) = {HW_PERIOD}
              THEN r.slist[2:{HW_PERIOD}] || [{sexp}]
              ELSE r.slist || [{sexp}] END,
         r.n_days
  FROM step r JOIN series s
    ON s.user_id = r.user_id AND s.idx = r.idx + 1
)
SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
       lvl AS level_micro, trend AS trend_micro,
       CASE WHEN len(slist) = {HW_PERIOD} THEN slist[1] ELSE 0 END
         AS season_micro,
       lvl + trend
         + CASE WHEN len(slist) = {HW_PERIOD} THEN slist[1] ELSE 0 END
         AS forecast_micro
FROM step WHERE idx = n_days
"""


TS_HW_ORACLE = _hw_oracle()


SPECS += [
    QuerySpec("ts_holt_winters", ts_holt_winters, TS_HW_ORACLE,
              "additive seasonal Holt-Winters per user, integer-exact recurrence",
              ("timeseries", "forecast", "stateful")),
]


# --- link prediction on the co-purchase graph ---------------------------------
# Common-neighbors / Jaccard link prediction: score non-adjacent part
# pairs by how many co-purchase neighbors they share. The wedge join
# (two edges through a shared center) is the textbook LP candidate
# generator; unconstrained it is sum(deg(w)^2) pairs, so production
# systems bound the centers. We bound by a DATA-RELATIVE cap — wedge
# centers must sit in the bottom degree decile (exact discrete
# percentile, computed identically on both engines) — which adapts to
# graph density instead of hard-coding a constant that silently goes
# degenerate at a different scale (a fixed cap=30 admits ZERO vertices
# at sf0.01, where min co-purchase degree is ~87). Niche-part wedges are
# also the informative ones: hub parts co-occur with everything.
# Top-20 via orderBy+limit => TakeOrderedAndProject (distributed top-k).

LP_CENTER_PCTL = 0.1  # wedge centers: bottom degree decile
LP_TOP = 20


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    # edges feeds five consumers, but measured CLEAN at sf0.1 the AQE
    # recompute still beats eager materialization (5.6s vs 9.0s warm;
    # the earlier 33.8s checkpoint 'win' was a CPU-contended reading) —
    # matching the triangle-count finding: lineage truncation is not free.
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    und = edges.selectExpr("pa AS u", "pb AS v").unionAll(
        edges.selectExpr("pb AS u", "pa AS v"))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    n = deg.agg(F.count("*").alias("n"))
    # exact discrete percentile: the d value at 1-based rank ceil(p * n)
    # in the d-sorted degree list = the smallest d whose cumulative
    # histogram count reaches the rank. The cumulative window runs over
    # the degree HISTOGRAM (one row per distinct degree value — O(sqrt E)
    # in practice), never the |V|-row degree list: at a 100x vertex set
    # the single-partition window input stays rollup-sized. Hash-
    # identical to rank-indexing the sorted list (ties share d).
    hist = deg.groupBy("d").agg(F.count("*").alias("cnt"))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cap = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(n))
        .where(F.expr(f"cum >= CAST(ceil({LP_CENTER_PCTL} * n) AS BIGINT)"))
        .agg(F.min("d").alias("dcap"))
    )
    centers = (
        und.join(deg, "u").crossJoin(F.broadcast(cap))
        .where(F.col("d") <= F.col("dcap"))
        .selectExpr("u AS w", "v")
    )
    # NOTE (r10): the sorted-adjacency pair-explode device that wins in
    # graph_triangle_count LOSES here, measured twice in alternating
    # isolated A/B at sf0.1 (join 7.8 s vs adjacency-explode 12.9-14.5 s):
    # center lists are dcap-bounded but still ~100+ entries, so the
    # per-row flatten materializes ~10k-struct arrays through an
    # ObjectHashAggregate (codegen lost) where the self-join streams the
    # same pairs through a codegen'd broadcast join into the partial agg.
    # Kept as the join.
    b = centers.selectExpr("w", "v AS v2")
    wedges = (
        centers.join(b, (centers.w == b.w) & (centers.v < b.v2))
        .groupBy(F.col("v").alias("u"), F.col("v2").alias("v"))
        .agg(F.count("*").alias("cn"))
    )
    nonadj = wedges.join(
        edges, (wedges.u == edges.pa) & (wedges.v == edges.pb), "left_anti")
    return (
        nonadj
        .join(deg.selectExpr("u", "d AS du"), "u")
        .join(deg.selectExpr("u AS v", "d AS dv"), "v")
        .selectExpr("u", "v", "cn", "du", "dv",
                    "cn * 1000000 div (du + dv - cn) AS jaccard_ppm")
        .orderBy(F.desc("cn"), F.desc("jaccard_ppm"), "u", "v")
        .limit(LP_TOP)
    )


GRAPH_LINK_PREDICTION_ORACLE = f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
  FROM lineitem GROUP BY 1
), edges AS (
  SELECT DISTINCT p.pa, p.pb FROM baskets,
  UNNEST(flatten(list_transform(parts, (x, i) ->
    list_transform(parts[i+1:], y -> {{pa: x, pb: y}})))) AS t(p)
), und AS (
  SELECT pa AS u, pb AS v FROM edges UNION ALL SELECT pb, pa FROM edges
), deg AS (
  SELECT u, COUNT(*) AS d FROM und GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n FROM deg
), cap AS (
  SELECT d AS dcap FROM (
    SELECT d, row_number() OVER (ORDER BY d, u) AS rn FROM deg) CROSS JOIN n
  WHERE rn = CAST(ceil({LP_CENTER_PCTL} * n) AS BIGINT)
), centers AS (
  SELECT u AS w, v FROM und JOIN deg USING (u) CROSS JOIN cap
  WHERE d <= dcap
), wedges AS (
  SELECT a.v AS u, b.v AS v, COUNT(*) AS cn
  FROM centers a JOIN centers b ON a.w = b.w AND a.v < b.v
  GROUP BY 1, 2
), nonadj AS (
  SELECT w.u, w.v, w.cn FROM wedges w
  ANTI JOIN edges e ON w.u = e.pa AND w.v = e.pb
)
SELECT n.u, n.v, n.cn, da.d AS du, db.d AS dv,
       n.cn * 1000000 // (da.d + db.d - n.cn) AS jaccard_ppm
FROM nonadj n JOIN deg da ON da.u = n.u JOIN deg db ON db.u = n.v
ORDER BY n.cn DESC, jaccard_ppm DESC, n.u, n.v LIMIT {LP_TOP}
"""


SPECS += [
    QuerySpec("graph_link_prediction", graph_link_prediction,
              GRAPH_LINK_PREDICTION_ORACLE,
              "common-neighbor/Jaccard link prediction, decile-capped wedges",
              ("graph", "iterative")),
]


# --- Kaplan-Meier survival curve ----------------------------------------------
# Time-to-conversion survival: S(h) = probability a user has NOT yet made
# a first purchase h hours after their first event, within a 72-hour
# conversion horizon; users converting later (or never) are right-CENSORED
# at the horizon. S(h) = PRODUCT over hours h' <= h of
# (at_risk - converted) / at_risk. The cumulative product is an ordered
# recurrence, so both engines fold the SAME sorted hour list
# left-to-right with init 1.0 — IEEE division/multiplication are
# correctly rounded, so identical inputs + identical order => identical
# doubles, floored to ppm. Scale: the hour histogram is horizon-bounded
# (<= 73 rows no matter how many billions of users produced it), so the
# collected fold list is driver-scale BY CONSTRUCTION — the heavy
# lifting (per-user first-event/first-purchase rollup) stays a keyed
# aggregate.

_HOUR_MS = 3_600_000
KM_HORIZON_H = 72


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_type")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts_ms").alias("start_ms"),
            F.min(F.expr(
                "CASE WHEN event_type = 'purchase' THEN ts_ms END"
            )).alias("fp_ms"),
        )
        .selectExpr(
            f"CASE WHEN fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}"
            f" THEN (fp_ms - start_ms) ELSE {KM_HORIZON_H * _HOUR_MS} END"
            f" div {_HOUR_MS} AS dur_h",
            f"CAST(NOT (fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}) AS INT)"
            " AS censored",
        )
    )
    hist = users.groupBy("dur_h").agg(
        F.count("*").alias("n_ending"),
        F.sum("censored").alias("n_censored"),
    )
    w = Window.orderBy(F.desc("dur_h")).rowsBetween(
        Window.unboundedPreceding, 0)
    curve = hist.withColumn("at_risk", F.sum("n_ending").over(w)).selectExpr(
        "dur_h AS hour", "at_risk",
        "n_ending - n_censored AS converted", "n_censored")
    arr = curve.agg(F.expr(
        "sort_array(collect_list(struct(hour, at_risk, converted, n_censored)))"
    ).alias("a"))
    return (
        arr.select(F.posexplode("a").alias("pos", "x"), F.col("a"))
        .selectExpr(
            "x.hour AS hour", "x.at_risk AS at_risk",
            "x.converted AS n_converted", "x.n_censored AS n_censored",
            "CAST(floor(aggregate(slice(a, 1, pos + 1), CAST(1.0 AS DOUBLE),"
            " (s, r) -> s * (CAST(r.at_risk - r.converted AS DOUBLE)"
            " / CAST(r.at_risk AS DOUBLE))) * 1000000) AS BIGINT)"
            " AS survival_ppm",
        )
    )


Q_SURVIVAL_KM_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
), u AS (
  SELECT user_id, MIN(ts_ms) AS start_ms,
         MIN(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS fp_ms
  FROM ev GROUP BY user_id
), users AS (
  SELECT CASE WHEN fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}
              THEN (fp_ms - start_ms)
              ELSE {KM_HORIZON_H * _HOUR_MS} END // {_HOUR_MS} AS dur_h,
         CAST(NOT (fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}) AS INT)
           AS censored
  FROM u
), hist AS (
  SELECT dur_h, COUNT(*) AS n_ending,
         CAST(SUM(censored) AS BIGINT) AS n_censored
  FROM users GROUP BY 1
), curve AS (
  SELECT dur_h AS hour,
         CAST(SUM(n_ending) OVER (ORDER BY dur_h DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS at_risk,
         n_ending - n_censored AS converted, n_censored
  FROM hist
), arr AS (
  SELECT list_sort(list({{'hour': hour, 'at_risk': at_risk,
                          'converted': converted,
                          'n_censored': n_censored}}))
    AS a
  FROM curve
), ex AS (
  SELECT unnest(a) AS x, generate_subscripts(a, 1) AS pos, a FROM arr
)
SELECT x.hour AS hour, x.at_risk AS at_risk,
       x.converted AS n_converted, x.n_censored AS n_censored,
       CAST(floor(list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(a[1:pos],
             r -> CAST(r.at_risk - r.converted AS DOUBLE)
                  / CAST(r.at_risk AS DOUBLE))),
         (s, y) -> s * y) * 1000000) AS BIGINT) AS survival_ppm
FROM ex
"""


SPECS += [
    QuerySpec("q_survival_km", q_survival_km, Q_SURVIVAL_KM_ORACLE,
              "Kaplan-Meier time-to-conversion curve, ordered-fold exact to ppm",
              ("analytics", "stats", "survival")),
]


# --- matrix-profile-style motif discovery ---------------------------------------
# Per-user motif: the pair of non-overlapping 5-day windows of the daily
# spend series with minimal squared Euclidean distance — the matrix
# profile's motif-of-length-w, computed EXACTLY because the series is
# calendar-bounded (<= |days| points per user no matter how many events
# produced them). Values are integer cents, distances integer cents², and
# the argmin is a lexicographic struct-min (d2, i, j) — bit-identical on
# both engines. Shapes at 100 TB: one keyed daily rollup (map-side
# combinable), one collect_list per user bounded by the calendar, and the
# O(|days|²) pair scan runs INSIDE the row as an array expression — no
# self-join, no shuffle beyond the rollup.

MOTIF_W = 5       # window length (days)
MOTIF_MIN_N = 10  # need two disjoint windows


def ts_motif_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.expr("CAST(round(SUM(value) * 100) AS BIGINT)").alias("v_c"))
        .select("user_id", F.unix_millis("day").alias("day_ms"), "v_c")
    )
    w, mn = MOTIF_W, MOTIF_MIN_N
    return (
        daily.groupBy("user_id")
        .agg(F.expr("sort_array(collect_list(struct(day_ms, v_c)))").alias("arr"),
             F.count("*").alias("n"))
        .where(F.col("n") >= mn)
        .selectExpr(
            "user_id", "n AS n_days", "arr",
            f"""array_min(flatten(transform(
                  sequence(1, CAST(n AS INT) - {2 * w - 1}), i ->
                transform(sequence(i + {w}, CAST(n AS INT) - {w - 1}), j ->
                  struct(
                    aggregate(sequence(0, {w - 1}), 0L, (s, k) ->
                      s + (element_at(arr, i + k).v_c
                           - element_at(arr, j + k).v_c)
                        * (element_at(arr, i + k).v_c
                           - element_at(arr, j + k).v_c)) AS d2,
                    i AS i, j AS j))))) AS best""",
        )
        .selectExpr(
            "user_id", "n_days",
            "element_at(arr, best.i).day_ms AS motif_a_day_ms",
            "element_at(arr, best.j).day_ms AS motif_b_day_ms",
            "best.d2 AS dist2_c2",
        )
    )


TS_MOTIF_ORACLE = f"""
WITH d AS (
  SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
         CAST(round(SUM(value) * 100) AS BIGINT) AS v_c
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, list_sort(list({{'day_ms': day_ms, 'v_c': v_c}})) AS arr,
         COUNT(*) AS n
  FROM d GROUP BY 1
), p AS (
  SELECT user_id, n, arr,
    list_sort(flatten(list_transform(
        generate_series(1, CAST(n AS INT) - {2 * MOTIF_W - 1}), i ->
      list_transform(generate_series(i + {MOTIF_W},
                                     CAST(n AS INT) - {MOTIF_W - 1}), j ->
        {{d2: list_sum(list_transform(generate_series(0, {MOTIF_W - 1}), k ->
               ((arr[i+k]).v_c - (arr[j+k]).v_c)
               * ((arr[i+k]).v_c - (arr[j+k]).v_c))),
         i: i, j: j}}))))[1] AS best
  FROM s WHERE n >= {MOTIF_MIN_N}
)
SELECT user_id, n AS n_days, (arr[best.i]).day_ms AS motif_a_day_ms,
       (arr[best.j]).day_ms AS motif_b_day_ms,
       CAST(best.d2 AS BIGINT) AS dist2_c2
FROM p
"""


SPECS += [
    QuerySpec("ts_motif_discovery", ts_motif_discovery, TS_MOTIF_ORACLE,
              "per-user minimal-distance window-pair motif, integer cents²",
              ("timeseries", "stats")),
]


# --- grid hotspot detection (Getis-Ord-style neighbor smoothing) ----------------
# The second spatial operator (geo_radius_join established the hashed
# point cloud + cell blocking): aggregate the points into grid cells,
# then smooth each cell with its 3x3 neighborhood and report the top
# hotspots by smoothed weight. The neighborhood sum is the standard
# scalable shape — explode each CELL (not each point) into its 9
# neighbor coordinates and equi-join on the cell key, so the smoothing
# is O(|cells| x 9) regardless of point count, map-side combinable, and
# never a distance self-join. Weights are exact cents; the hotspot
# share is integer ppm of the global total (1-row broadcast).

_HOT_CELL = 100   # cell edge within the _GEO_BOX coordinate space
HOT_TOP = 15


def geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    pts = load_table(spark, sf_dir, "customer").select(
        F.pmod(portable_hash64(F.concat(F.lit("gx#"),
               F.col("c_custkey").cast("string"))), F.lit(_GEO_BOX)).alias("x"),
        F.pmod(portable_hash64(F.concat(F.lit("gy#"),
               F.col("c_custkey").cast("string"))), F.lit(_GEO_BOX)).alias("y"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
    )
    cells = (
        pts.groupBy(
            F.expr(f"x div {_HOT_CELL}").alias("cx"),
            F.expr(f"y div {_HOT_CELL}").alias("cy"))
        .agg(F.count("*").alias("n_points"), F.sum("cents").alias("cents"))
    )
    offsets = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    spread = cells.selectExpr(
        "cx AS scx", "cy AS scy", "n_points", "cents",
        f"explode(array({offsets})) AS o",
    ).selectExpr("scx + o.dx AS cx", "scy + o.dy AS cy", "n_points", "cents")
    total = cells.agg(F.sum("cents").alias("total_cents"))
    nbr = (
        spread.groupBy("cx", "cy")
        .agg(F.sum("n_points").alias("nbr_points"),
             F.sum("cents").alias("nbr_cents"))
    )
    return (
        cells.join(nbr, ["cx", "cy"])
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "cx", "cy", "n_points", "cents", "nbr_points", "nbr_cents",
            "nbr_cents * 1000000 div total_cents AS nbr_share_ppm")
        .orderBy(F.desc("nbr_cents"), "cx", "cy")
        .limit(HOT_TOP)
    )


GEO_HOTSPOTS_ORACLE = f"""
WITH pts AS (
  SELECT ({_GEO_X}) AS x, ({_GEO_Y}) AS y,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), cells AS (
  SELECT x // {_HOT_CELL} AS cx, y // {_HOT_CELL} AS cy,
         COUNT(*) AS n_points, CAST(SUM(cents) AS BIGINT) AS cents
  FROM pts GROUP BY 1, 2
), total AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM cells
), spread AS (
  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.n_points, c.cents
  FROM cells c, (SELECT dx.g AS dx, dy.g AS dy
                 FROM (SELECT unnest(generate_series(-1, 1)) AS g) dx,
                      (SELECT unnest(generate_series(-1, 1)) AS g) dy) o
), nbr AS (
  SELECT cx, cy, CAST(SUM(n_points) AS BIGINT) AS nbr_points,
         CAST(SUM(cents) AS BIGINT) AS nbr_cents
  FROM spread GROUP BY 1, 2
)
SELECT c.cx, c.cy, c.n_points, c.cents, n.nbr_points, n.nbr_cents,
       n.nbr_cents * 1000000 // total_cents AS nbr_share_ppm
FROM cells c JOIN nbr n ON n.cx = c.cx AND n.cy = c.cy
CROSS JOIN total
ORDER BY n.nbr_cents DESC, c.cx, c.cy LIMIT {HOT_TOP}
"""


SPECS += [
    QuerySpec("geo_grid_hotspots", geo_grid_hotspots, GEO_HOTSPOTS_ORACLE,
              "3x3 neighbor-smoothed grid hotspots, exact cents",
              ("analytics", "spatial")),
]


# --- chain-ladder development-triangle completion --------------------------------
# The actuarial estimator behind "how much LTV is still to come": build
# the cohort x age cumulative-revenue triangle (cohort = user's signup
# day, age = days since), estimate volume-weighted development
# factors f_a = Σ cum(a+1) / Σ cum(a) over the cohorts that have BOTH
# ages observed, and complete each younger cohort to the oldest age by
# multiplying its latest known cumulative by the remaining factors.
# Exactness: factors stay (num, den) BIGINT pairs; the per-cohort
# completion folds the SAME age-sorted factor list left-to-right in
# doubles (correctly-rounded ÷ and ×), floored to cents. Scale: the
# triangle is calendar-bounded (|weeks|² cells), factors are a <= |ages|
# row broadcast; only the cohort rollup touches the fact table.


def q_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents")
    cohort = ev.where("event_type = 'signup'").groupBy("user_id").agg(
        F.expr(f"MIN(ts_ms) div {_DAY_MS} AS cohort_w"))
    bounds = ev.agg(F.expr(f"MAX(ts_ms) div {_DAY_MS} AS obs_w"))
    cells = (
        ev.where("event_type = 'purchase'")
        .join(cohort, "user_id")
        .groupBy("cohort_w",
                 F.expr(f"ts_ms div {_DAY_MS} - cohort_w").alias("age"))
        .agg(F.sum("cents").alias("cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_w").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # dense ages 0..max_age per cohort (missing days must carry the
    # cumulative forward, or factor denominators skip cells)
    spine = (
        cells.groupBy("cohort_w").agg(F.lit(1).alias("one"))
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "cohort_w",
            "explode(sequence(0, CAST(obs_w - cohort_w AS INT))) AS age")
    )
    tri = (
        spine.join(cells, ["cohort_w", "age"], "left")
        .withColumn("cents", F.coalesce(F.col("cents"), F.lit(0)))
        .withColumn("cum", F.sum("cents").over(w_cum))
    )
    nxt = tri.selectExpr("cohort_w", "age - 1 AS age", "cum AS cum_next")
    factors = (
        tri.join(nxt, ["cohort_w", "age"])
        .where("cum > 0")
        .groupBy("age")
        .agg(F.sum("cum_next").alias("num"), F.sum("cum").alias("den"))
    )
    farr = factors.agg(F.expr(
        "sort_array(collect_list(struct(age, num, den)))").alias("fs"))
    latest = (
        tri.crossJoin(F.broadcast(bounds))
        .where("age = obs_w - cohort_w")
        .selectExpr("cohort_w", "age AS max_age_w", "cum AS cum_cents_known",
                    "obs_w")
    )
    return (
        latest.crossJoin(F.broadcast(farr))
        .selectExpr(
            f"cohort_w * {_DAY_MS} AS cohort_ms",
            "max_age_w", "cum_cents_known",
            "CAST(floor(cum_cents_known * aggregate("
            " filter(fs, f -> f.age >= max_age_w), CAST(1.0 AS DOUBLE),"
            " (s, f) -> s * (CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE))"
            ")) AS BIGINT) AS ultimate_cents",
        )
    )


Q_CHAIN_LADDER_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), cohort AS (
  SELECT user_id, MIN(ts_ms) // {_DAY_MS} AS cohort_w FROM ev
  WHERE event_type = 'signup' GROUP BY 1
), bounds AS (
  SELECT MAX(ts_ms) // {_DAY_MS} AS obs_w FROM ev
), cells AS (
  SELECT c.cohort_w, e.ts_ms // {_DAY_MS} - c.cohort_w AS age,
         CAST(SUM(e.cents) AS BIGINT) AS cents
  FROM ev e JOIN cohort c USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), spine AS (
  SELECT cohort_w, unnest(generate_series(0, CAST(obs_w - cohort_w AS INT)))
           AS age
  FROM (SELECT DISTINCT cohort_w FROM cells) CROSS JOIN bounds
), tri AS (
  SELECT cohort_w, age,
         CAST(SUM(COALESCE(cents, 0)) OVER (PARTITION BY cohort_w
           ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM spine LEFT JOIN cells USING (cohort_w, age)
), factors AS (
  SELECT t.age, CAST(SUM(n.cum) AS BIGINT) AS num,
         CAST(SUM(t.cum) AS BIGINT) AS den
  FROM tri t JOIN tri n ON n.cohort_w = t.cohort_w AND n.age = t.age + 1
  WHERE t.cum > 0
  GROUP BY 1
), farr AS (
  SELECT list_sort(list({{'age': age, 'num': num, 'den': den}})) AS fs
  FROM factors
), latest AS (
  SELECT cohort_w, age AS max_age_w, cum AS cum_cents_known
  FROM tri CROSS JOIN bounds WHERE age = obs_w - cohort_w
)
SELECT cohort_w * {_DAY_MS} AS cohort_ms, max_age_w, cum_cents_known,
       CAST(floor(cum_cents_known * list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(list_filter(fs, f -> f.age >= max_age_w),
             f -> CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE))),
         (s, y) -> s * y)) AS BIGINT) AS ultimate_cents
FROM latest CROSS JOIN farr
"""


SPECS += [
    QuerySpec("q_chain_ladder", q_chain_ladder, Q_CHAIN_LADDER_ORACLE,
              "chain-ladder cohort triangle completion, ordered-fold exact",
              ("analytics", "forecast", "cohort")),
]


# --- rolling regression beta (user spend vs market index) ------------------------
# The rolling-OLS slope every quant/analytics stack ships: how sensitive
# is each user's daily spend to the global daily index, over a trailing
# 7-observation window. beta = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) stays
# EXACT: x and y are integer cents, all five window sums are BIGINT
# window aggregates (per-user partitions, ROWS frame — no global sort),
# and the final slope is one integer ppm division. The index join is a
# broadcast (calendar-bounded). Windows shorter than 7 observations or
# with a degenerate denominator (constant index) are dropped.

BETA_W = 7


def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        f"user_id", f"unix_millis(ts) div {_DAY_MS} AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
    daily = ev.groupBy("user_id", "day").agg(F.sum("cents").alias("y"))
    index = ev.groupBy("day").agg(F.sum("cents").alias("x"))
    w = (
        Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(-(BETA_W - 1), 0)
    )
    joined = daily.join(F.broadcast(index), "day")
    return (
        joined
        .withColumn("n", F.count("*").over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxy", F.sum(F.expr("x * y")).over(w))
        .withColumn("sxx", F.sum(F.expr("x * x")).over(w))
        .where(f"n = {BETA_W} AND n * sxx - sx * sx <> 0")
        .selectExpr(
            "user_id", f"day * {_DAY_MS} AS day_ms",
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
            " AS beta_ppm",
        )
    )


Q_ROLLING_BETA_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) // {_DAY_MS} AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT user_id, day, CAST(SUM(cents) AS BIGINT) AS y
  FROM ev GROUP BY 1, 2
), idx AS (
  SELECT day, CAST(SUM(cents) AS BIGINT) AS x FROM ev GROUP BY 1
), win AS (
  SELECT user_id, day,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
  FROM daily JOIN idx USING (day)
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN {BETA_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, day * {_DAY_MS} AS day_ms,
       (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS beta_ppm
FROM win WHERE n = {BETA_W} AND n * sxx - sx * sx <> 0
"""


SPECS += [
    QuerySpec("q_rolling_beta", q_rolling_beta, Q_ROLLING_BETA_ORACLE,
              "trailing-7 rolling OLS slope vs the market index, exact ppm",
              ("analytics", "stats", "timeseries")),
]


# --- SAX symbolization of daily series --------------------------------------------
# Symbolic Aggregate approXimation: each user's daily-spend series is
# PAA-compressed into 4 equal-count segments and each segment mean is
# z-scored against the user's own mean/sd, then mapped to a 4-letter
# alphabet at the Gaussian quartile breakpoints (-0.6745, 0, 0.6745).
# The word is the shape signature time-series search engines index.
# Exactness: the breakpoint test is multiplied through so the LHS is an
# exact integer (seg_sum·n - seg_n·Σx) and the RHS b·seg_n·sqrt(n·Σx² -
# (Σx)²) is one sqrt of an exact integer times a shared literal —
# identical IEEE ops in identical order on both engines. One keyed
# rollup + per-user array fold; the n<4 tail is dropped.

SAX_SEGS = 4
SAX_BP = 0.6745  # Gaussian quartile breakpoint


def ts_sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.expr("CAST(round(SUM(value) * 100) AS BIGINT)").alias("v"))
        .select("user_id", F.unix_millis("day").alias("day_ms"), "v")
    )

    def seg_sym(i: int) -> str:
        lo = f"(({i} * n) div {SAX_SEGS})"
        hi = f"((({i} + 1) * n) div {SAX_SEGS})"
        seg_n = f"({hi} - {lo})"
        seg_sum = (f"aggregate(slice(arr, {lo} + 1, {seg_n}), 0L,"
                   " (s, x) -> s + x.v)")
        lhs = f"CAST({seg_sum} * n - {seg_n} * sx AS DOUBLE)"
        rhs = f"CAST({seg_n} AS DOUBLE) * sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        return (f"CASE WHEN {lhs} < -{SAX_BP} * {rhs} THEN 'a'"
                f" WHEN {lhs} < 0 THEN 'b'"
                f" WHEN {lhs} < {SAX_BP} * {rhs} THEN 'c' ELSE 'd' END")

    word = " || ".join(seg_sym(i) for i in range(SAX_SEGS))
    return (
        daily.groupBy("user_id")
        .agg(F.expr("sort_array(collect_list(struct(day_ms, v)))").alias("arr"),
             F.count("*").alias("n"),
             F.sum("v").alias("sx"),
             F.sum(F.expr("v * v")).alias("sxx"))
        .where(f"n >= {SAX_SEGS}")
        .selectExpr("user_id", "n AS n_days", f"{word} AS sax_word")
    )


def _sax_oracle() -> str:
    def seg_sym(i: int) -> str:
        lo = f"(({i} * n) // {SAX_SEGS})"
        hi = f"((({i} + 1) * n) // {SAX_SEGS})"
        seg_n = f"({hi} - {lo})"
        seg_sum = f"CAST(list_sum(list_transform(arr[{lo} + 1:{hi}], x -> x.v)) AS BIGINT)"
        lhs = f"CAST({seg_sum} * n - {seg_n} * sx AS DOUBLE)"
        rhs = (f"CAST({seg_n} AS DOUBLE)"
               f" * sqrt(CAST(n * sxx - sx * sx AS DOUBLE))")
        return (f"CASE WHEN {lhs} < -{SAX_BP} * {rhs} THEN 'a'"
                f" WHEN {lhs} < 0 THEN 'b'"
                f" WHEN {lhs} < {SAX_BP} * {rhs} THEN 'c' ELSE 'd' END")

    word = " || ".join(seg_sym(i) for i in range(SAX_SEGS))
    return f"""
WITH daily AS (
  SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
         CAST(round(SUM(value) * 100) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, list_sort(list({{'day_ms': day_ms, 'v': v}})) AS arr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sx, CAST(SUM(v * v) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
)
SELECT user_id, n AS n_days, {word} AS sax_word
FROM s WHERE n >= {SAX_SEGS}
"""


TS_SAX_ORACLE = _sax_oracle()


SPECS += [
    QuerySpec("ts_sax_symbolization", ts_sax_symbolization, TS_SAX_ORACLE,
              "PAA + Gaussian-breakpoint SAX words per user series",
              ("timeseries", "stats", "search")),
]


# --- integer Haar wavelet decomposition ---------------------------------------------
# Multi-resolution analysis of the corpus's daily-revenue signal: the
# UNNORMALIZED Haar transform (sum/difference pairs; the 2^(k/2)
# normalizer is omitted so every coefficient stays an exact BIGINT —
# the standard integer-wavelet trick). The calendar series is padded to
# 32 slots, halved 5 times; each level's detail coefficients localize
# WHEN the signal moved, the final approximation is the grand total.
# Shapes: one daily rollup (fact-scale), then the whole transform runs
# over a single collected 32-slot array — calendar-bounded no matter how
# many events produced it.

HAAR_N = 32  # padded series length (2^5)


def q_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        f"unix_millis(ts) div {_DAY_MS} AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
    base = ev.groupBy("day").agg(F.sum("cents").alias("x"))
    lo = base.agg(F.min("day").alias("d0"))
    # dense padded series as ONE array column (collect first, then the
    # spine projection — aggregates can't nest inside lambdas)
    arr0 = (
        base.crossJoin(F.broadcast(lo))
        .selectExpr("CAST(day - d0 AS INT) AS i", "x")
        .where(f"i < {HAAR_N}")
        .agg(F.expr("collect_list(struct(i, x))").alias("pairs"))
        .selectExpr(
            f"transform(sequence(0, {HAAR_N - 1}), j -> "
            "coalesce(aggregate(filter(pairs, s -> s.i = j), 0L,"
            " (acc, s) -> acc + s.x), 0L)) AS a")
    )
    levels = []
    cur = "a"
    n = HAAR_N
    sel = arr0
    for lvl in range(1, 6):
        half = n // 2
        sel = sel.selectExpr(
            "*",
            f"transform(sequence(0, {half - 1}), i ->"
            f" element_at({cur}, 2 * i + 1) + element_at({cur}, 2 * i + 2))"
            f" AS a{lvl}",
            f"transform(sequence(0, {half - 1}), i ->"
            f" element_at({cur}, 2 * i + 1) - element_at({cur}, 2 * i + 2))"
            f" AS d{lvl}",
        )
        levels.append((lvl, half))
        cur, n = f"a{lvl}", half
    parts = [
        sel.select(F.lit(lvl).cast("int").alias("level"),
                   F.posexplode(f"d{lvl}").alias("pos", "coeff"))
        for lvl, _ in levels
    ]
    approx = sel.select(
        F.lit(6).cast("int").alias("level"),
        F.posexplode("a5").alias("pos", "coeff"))
    out = parts[0]
    for p in parts[1:] + [approx]:
        out = out.unionAll(p)
    return out


def _haar_oracle() -> str:
    lines = [f"""
WITH base AS (
  SELECT epoch_ms(ts) // {_DAY_MS} AS day,
         CAST(round(SUM(value) * 100) AS BIGINT) AS x
  FROM events GROUP BY 1
), lo AS (
  SELECT MIN(day) AS d0 FROM base
), a0 AS (
  SELECT list(CAST(COALESCE(b.x, 0) AS BIGINT) ORDER BY s.j) AS a
  FROM (SELECT unnest(generate_series(0, {HAAR_N - 1})) AS j) s
  LEFT JOIN (SELECT CAST(day - d0 AS INT) AS i, x FROM base, lo) b
    ON b.i = s.j
)"""]
    cur, n = "a", HAAR_N
    for lvl in range(1, 6):
        half = n // 2
        lines.append(f""", l{lvl} AS (
  SELECT list_transform(generate_series(0, {half - 1}), i ->
           {cur}[2 * i + 1] + {cur}[2 * i + 2]) AS a,
         list_transform(generate_series(0, {half - 1}), i ->
           {cur}[2 * i + 1] - {cur}[2 * i + 2]) AS d
  FROM {"a0" if lvl == 1 else f"l{lvl - 1}"}
)""")
        cur, n = "a", half
    selects = [
        f"""SELECT CAST({lvl} AS INT) AS level,
       CAST(generate_subscripts(d, 1) - 1 AS INT) AS pos,
       CAST(unnest(d) AS BIGINT) AS coeff FROM l{lvl}"""
        for lvl in range(1, 6)
    ]
    selects.append(
        """SELECT CAST(6 AS INT), CAST(generate_subscripts(a, 1) - 1 AS INT),
       CAST(unnest(a) AS BIGINT) FROM l5""")
    return "".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


Q_HAAR_ORACLE = _haar_oracle()


SPECS += [
    QuerySpec("q_haar_wavelet", q_haar_wavelet, Q_HAAR_ORACLE,
              "integer Haar multi-resolution transform of the daily signal",
              ("timeseries", "stats", "signal")),
]


# --- Croston intermittent-demand forecast --------------------------------------------
# The forecaster for SPARSE demand (most parts sell in a few scattered
# weeks): classic Croston keeps two EWMAs — nonzero demand SIZE z and
# inter-demand INTERVAL p — updated only when demand occurs; the rate
# forecast is z/p per week. alpha = 1/5 keeps the recurrence integer:
# z' = z + (d·1e6 - z) div 5 in micros (truncating div, identical on
# both engines). Init: z = first demand, p = first interval; the fold
# starts at the second occurrence. The Spark side folds each part's
# (bounded) occurrence list with aggregate(); the oracle replays the
# recurrence as a recursive CTE (the x11 precedent — DuckDB list_reduce
# struct folds are avoided). One keyed rollup + per-part array fold.

CROSTON_A = 5  # alpha = 1/5


def q_forecast_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey AS pk",
        f"unix_millis(CAST(l_shipdate AS TIMESTAMP)) div {7 * 86_400_000}"
        " AS wk",
        "CAST(l_quantity AS BIGINT) AS qty")
    weekly = (
        li.groupBy("pk", "wk").agg(F.sum("qty").alias("d"))
        .where("d > 0")
    )
    a = CROSTON_A
    return (
        weekly.groupBy("pk")
        .agg(F.expr("sort_array(collect_list(struct(wk, d)))").alias("arr"),
             F.count("*").alias("n"))
        .where("n >= 2")
        .selectExpr(
            "pk", "n AS n_demands",
            # state struct: (z_micro, p_micro, prev_wk)
            f"""aggregate(
                 slice(arr, 3, size(arr) - 2),
                 struct(
                   element_at(arr, 2).d * 1000000L AS z,
                   (element_at(arr, 2).wk - element_at(arr, 1).wk)
                     * 1000000L AS p,
                   element_at(arr, 2).wk AS w),
                 (s, x) -> struct(
                   s.z + (x.d * 1000000L - s.z) div {a} AS z,
                   s.p + ((x.wk - s.w) * 1000000L - s.p) div {a} AS p,
                   x.wk AS w)) AS st""",
        )
        .selectExpr(
            "pk AS l_partkey", "n_demands",
            "st.z AS z_micro", "st.p AS p_micro",
            "st.z * 1000 div st.p AS forecast_milli",
        )
    )


Q_CROSTON_ORACLE = f"""
WITH RECURSIVE weekly AS (
  SELECT l_partkey AS pk,
         epoch_ms(CAST(l_shipdate AS TIMESTAMP)) // {7 * 86_400_000} AS wk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem GROUP BY 1, 2 HAVING SUM(l_quantity) > 0
), s AS (
  SELECT pk, list_sort(list({{'wk': wk, 'd': d}})) AS arr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM weekly GROUP BY 1 HAVING COUNT(*) >= 2
), step(pk, i, z, p, w) AS (
  SELECT pk, CAST(2 AS BIGINT), (arr[2]).d * 1000000,
         ((arr[2]).wk - (arr[1]).wk) * 1000000, (arr[2]).wk
  FROM s
  UNION ALL
  SELECT st.pk, st.i + 1,
         st.z + ((s.arr[CAST(st.i + 1 AS INT)]).d * 1000000 - st.z)
           // {CROSTON_A},
         st.p + (((s.arr[CAST(st.i + 1 AS INT)]).wk - st.w) * 1000000 - st.p)
           // {CROSTON_A},
         (s.arr[CAST(st.i + 1 AS INT)]).wk
  FROM step st JOIN s USING (pk)
  WHERE st.i < s.n
)
SELECT st.pk AS l_partkey, s.n AS n_demands,
       st.z AS z_micro, st.p AS p_micro,
       st.z * 1000 // st.p AS forecast_milli
FROM step st JOIN s USING (pk) WHERE st.i = s.n
"""


SPECS += [
    QuerySpec("q_forecast_croston", q_forecast_croston, Q_CROSTON_ORACLE,
              "Croston intermittent-demand rate forecast, integer micros",
              ("analytics", "forecast", "timeseries")),
]


# --- modularity of the LPA communities ------------------------------------------------
# The quality score for graph_label_propagation's output: Newman
# modularity Q = Σ_c (e_c/m − (d_c/2m)²), computed EXACTLY in ppm as
# (4m·e_c − d_c²)·1e6 div 4m² per community (m undirected edges, e_c
# intra-community edges, d_c total degree). Replays the same 3
# synchronous min-tie LPA rounds (shared constants), then two keyed
# rollups: intra-edge counts (join final labels onto both endpoints)
# and degree sums. Top-10 communities by size, each row carrying its own
# contribution and the global Q — the number a pipeline thresholds
# before trusting the communities downstream.

MOD_TOP = 10


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    e = edges.selectExpr("pa AS u", "pb AS v").unionAll(
        edges.selectExpr("pb AS u", "pa AS v"))
    labels = e.select("u").distinct().withColumn("label", F.col("u"))
    # Intermediate rounds stay LAZY: each is referenced exactly once (by
    # the next round), so a per-round checkpoint paid an eager job and a
    # block write for nothing — only the FINAL labels frame fans out (la,
    # lb, dc) and needs materialization (r10; the kcore/components lesson
    # of r9 applied to a fixed-round loop: zero per-round driver jobs).
    for _ in range(LPA_ROUNDS):
        nb = e.join(labels.selectExpr("u AS v", "label"), "v")
        counts = nb.groupBy("u", "label").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("u")
            .agg(F.max(F.struct("c", (-F.col("label")).alias("nl"))).alias("m"))
            .selectExpr("u", "-m.nl AS label")
        )
    labels = labels.localCheckpoint(eager=True)
    m_row = edges.agg(F.count("*").alias("m"))
    la = labels.selectExpr("u AS pa", "label AS label_a")
    lb = labels.selectExpr("u AS pb", "label AS label_b")
    intra = (
        edges.join(la, "pa").join(lb, "pb")
        .where("label_a = label_b")
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    dc = (
        labels.join(deg, "u")
        .groupBy("label")
        .agg(F.sum("d").alias("d_c"), F.count("*").alias("size"))
    )
    per_c = (
        dc.join(intra, "label", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)))
        .crossJoin(F.broadcast(m_row))
        .selectExpr(
            "label", "size", "e_c", "d_c",
            "(4 * m * e_c - d_c * d_c) * 1000000 div (4 * m * m)"
            " AS contribution_ppm",
        )
    )
    # Global Q as an unbounded window over per_c (community-count rows —
    # rollup-sized) instead of crossJoin(agg(per_c)): the old form put the
    # whole dc/intra subtree in the plan TWICE (r10).
    w_all = Window.partitionBy()
    return (
        per_c.withColumn("q_ppm_total",
                         F.sum("contribution_ppm").over(w_all))
        .orderBy(F.desc("size"), "label")
        .limit(MOD_TOP)
    )


def _modularity_oracle() -> str:
    parts = ["""WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, c.l_partkey AS pb
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
), e0 AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
), l0 AS MATERIALIZED (
  SELECT DISTINCT u, u AS label FROM e0
)"""]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f""", c{r} AS MATERIALIZED (
  SELECT e.u, l.label, COUNT(*) AS c
  FROM e0 e JOIN l{r-1} l ON e.v = l.u GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT u, label FROM c{r}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, label ASC) = 1
)""")
    parts.append(f""", m_row AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed
), intra AS (
  SELECT la.label, COUNT(*) AS e_c
  FROM ed JOIN l{LPA_ROUNDS} la ON la.u = ed.pa
          JOIN l{LPA_ROUNDS} lb ON lb.u = ed.pb
  WHERE la.label = lb.label
  GROUP BY 1
), deg AS (
  SELECT u, COUNT(*) AS d FROM e0 GROUP BY 1
), dc AS (
  SELECT l.label, CAST(SUM(d.d) AS BIGINT) AS d_c, COUNT(*) AS size
  FROM l{LPA_ROUNDS} l JOIN deg d USING (u) GROUP BY 1
), per_c AS (
  SELECT dc.label, dc.size, CAST(COALESCE(i.e_c, 0) AS BIGINT) AS e_c,
         dc.d_c,
         (4 * m * CAST(COALESCE(i.e_c, 0) AS BIGINT) - dc.d_c * dc.d_c)
           * 1000000 // (4 * m * m) AS contribution_ppm
  FROM dc LEFT JOIN intra i USING (label) CROSS JOIN m_row
), q_row AS (
  SELECT CAST(SUM(contribution_ppm) AS BIGINT) AS q_ppm_total FROM per_c
)
SELECT label, size, e_c, d_c, contribution_ppm, q_ppm_total
FROM per_c CROSS JOIN q_row
ORDER BY size DESC, label LIMIT {MOD_TOP}""")
    return "".join(parts)


GRAPH_MODULARITY_ORACLE = _modularity_oracle()


SPECS += [
    QuerySpec("graph_modularity", graph_modularity, GRAPH_MODULARITY_ORACLE,
              "Newman modularity of the LPA communities, exact ppm",
              ("graph", "iterative")),
]


# --- rich-club coefficient -------------------------------------------------------------
# Do the high-degree parts preferentially co-occur with each other?
# φ(k) = 2·E_k / (N_k·(N_k − 1)) over the subgraph of nodes with degree
# > k, evaluated at DATA-RELATIVE thresholds (the degree distribution's
# quartiles, exact discrete percentiles — same scale-adaptive principle
# as graph_link_prediction's wedge cap). One edge-filter join per
# threshold against the broadcast quartile row; everything integer, the
# density in ppm.

RC_PCTLS = (0.25, 0.5, 0.75, 0.9)


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    edges = (
        baskets.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            "y -> struct(x AS pa, y AS pb))))")).alias("p"))
        .select("p.pa", "p.pb").distinct()
    )
    # 3 consumers (deg x2, ek) — recompute beats materialization here,
    # matching graph_triangle_count's measured finding (3.9s vs 13.1s
    # cold at sf0.1).
    deg = (
        edges.selectExpr("pa AS u").unionAll(edges.selectExpr("pb AS u"))
        .groupBy("u").agg(F.count("*").alias("d"))
    )
    n_row = deg.agg(F.count("*").alias("n"))
    # All four quartile cuts from ONE cumulative pass over the degree
    # HISTOGRAM (O(distinct degrees) rows — rollup-sized at any scale),
    # never a row_number over the |V|-row degree list: the d value at
    # 1-based rank ceil(p*n) equals the smallest d whose cumulative count
    # reaches that rank (ties share d) — the same exact-discrete-percentile
    # identity graph_link_prediction uses for its wedge cap. This replaces
    # four |V|-row single-partition windows with one histogram-sized one.
    hist = deg.groupBy("d").agg(F.count("*").alias("cnt"))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).crossJoin(
        F.broadcast(n_row))
    pctl_rows = local_literal_df(
        spark, [(int(p * 100), p) for p in RC_PCTLS], "pctl int, p double")
    cuts = (
        cum.crossJoin(F.broadcast(pctl_rows))
        .where("cum >= CAST(ceil(p * n) AS BIGINT)")
        .groupBy("pctl").agg(F.min("d").alias("k"))
    )
    da = deg.selectExpr("u AS pa", "d AS da")
    db = deg.selectExpr("u AS pb", "d AS db")
    ek = (
        edges.join(da, "pa").join(db, "pb")
        .crossJoin(F.broadcast(cuts))
        .where("da > k AND db > k")
        .groupBy("pctl", "k").agg(F.count("*").alias("n_edges"))
    )
    nk = (
        deg.crossJoin(F.broadcast(cuts))
        .where("d > k")
        .groupBy("pctl", "k").agg(F.count("*").alias("n_nodes"))
    )
    return (
        nk.join(ek, ["pctl", "k"], "left")
        .withColumn("n_edges", F.coalesce(F.col("n_edges"), F.lit(0)))
        .selectExpr(
            "pctl", "k", "n_nodes", "n_edges",
            "CASE WHEN n_nodes > 1 THEN"
            " 2 * n_edges * 1000000 div (n_nodes * (n_nodes - 1))"
            " ELSE 0 END AS phi_ppm")
    )


GRAPH_RICH_CLUB_ORACLE = f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, c.l_partkey AS pb
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
), deg AS MATERIALIZED (
  SELECT u, COUNT(*) AS d FROM (
    SELECT pa AS u FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY 1
), n_row AS (
  SELECT COUNT(*) AS n FROM deg
), ranked AS MATERIALIZED (
  SELECT d, row_number() OVER (ORDER BY d, u) AS rn FROM deg
), cuts AS (
  {" UNION ALL ".join(
      f"SELECT CAST({int(p * 100)} AS INT) AS pctl, d AS k FROM ranked, n_row"
      f" WHERE rn = CAST(ceil({p} * n) AS BIGINT)" for p in RC_PCTLS)}
), ek AS (
  SELECT pctl, k, COUNT(*) AS n_edges
  FROM edges
  JOIN deg x ON x.u = edges.pa JOIN deg y ON y.u = edges.pb
  CROSS JOIN cuts
  WHERE x.d > k AND y.d > k
  GROUP BY 1, 2
), nk AS (
  SELECT pctl, k, COUNT(*) AS n_nodes
  FROM deg CROSS JOIN cuts WHERE d > k GROUP BY 1, 2
)
SELECT nk.pctl, nk.k, nk.n_nodes,
       CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
       CASE WHEN nk.n_nodes > 1 THEN
         2 * CAST(COALESCE(ek.n_edges, 0) AS BIGINT) * 1000000
           // (nk.n_nodes * (nk.n_nodes - 1))
       ELSE 0 END AS phi_ppm
FROM nk LEFT JOIN ek ON ek.pctl = nk.pctl AND ek.k = nk.k
"""


SPECS += [
    QuerySpec("graph_rich_club", graph_rich_club, GRAPH_RICH_CLUB_ORACLE,
              "rich-club density at degree-quartile thresholds, exact ppm",
              ("graph",)),
]


# --- two-arm Kaplan-Meier (comparative conversion survival) -------------------------
# The product question behind q_survival_km: does the TREATED arm
# convert faster? Same hour-grained KM estimator, computed per
# hash-assigned variant (q_ab_readout's assignment), each arm's curve an
# independent ordered fold — so the two step functions are directly
# comparable and every value hash-matches. Per-arm work is one keyed
# rollup + a horizon-bounded (<= 73-row) fold list.


def q_survival_km_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_type")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts_ms").alias("start_ms"),
            F.min(F.expr(
                "CASE WHEN event_type = 'purchase' THEN ts_ms END"
            )).alias("fp_ms"),
        )
        .withColumn("arm", F.pmod(
            portable_hash64(F.col("user_id").cast("string")), F.lit(2)))
        .selectExpr(
            "arm",
            f"CASE WHEN fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}"
            f" THEN (fp_ms - start_ms) ELSE {KM_HORIZON_H * _HOUR_MS} END"
            f" div {_HOUR_MS} AS dur_h",
            f"CAST(NOT (fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}) AS INT)"
            " AS censored",
        )
    )
    hist = users.groupBy("arm", "dur_h").agg(
        F.count("*").alias("n_ending"),
        F.sum("censored").alias("n_censored"),
    )
    w = Window.partitionBy("arm").orderBy(F.desc("dur_h")).rowsBetween(
        Window.unboundedPreceding, 0)
    curve = hist.withColumn("at_risk", F.sum("n_ending").over(w)).selectExpr(
        "arm", "dur_h AS hour", "at_risk",
        "n_ending - n_censored AS converted", "n_censored")
    arr = curve.groupBy("arm").agg(F.expr(
        "sort_array(collect_list(struct(hour, at_risk, converted, n_censored)))"
    ).alias("a"))
    return (
        arr.select("arm", F.posexplode("a").alias("pos", "x"), F.col("a"))
        .selectExpr(
            "arm", "x.hour AS hour", "x.at_risk AS at_risk",
            "x.converted AS n_converted", "x.n_censored AS n_censored",
            "CAST(floor(aggregate(slice(a, 1, pos + 1), CAST(1.0 AS DOUBLE),"
            " (s, r) -> s * (CAST(r.at_risk - r.converted AS DOUBLE)"
            " / CAST(r.at_risk AS DOUBLE))) * 1000000) AS BIGINT)"
            " AS survival_ppm",
        )
    )


from ..functions.hashing import portable_hash64_sql as _ph64_sql  # noqa: E402

Q_SURVIVAL_KM_ARMS_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
), u AS (
  SELECT user_id, MIN(ts_ms) AS start_ms,
         MIN(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS fp_ms
  FROM ev GROUP BY 1
), users AS (
  SELECT ({_ph64_sql("CAST(user_id AS VARCHAR)")}) % 2 AS arm,
         CASE WHEN fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}
              THEN (fp_ms - start_ms)
              ELSE {KM_HORIZON_H * _HOUR_MS} END // {_HOUR_MS} AS dur_h,
         CAST(NOT (fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}) AS INT)
           AS censored
  FROM u
), hist AS (
  SELECT arm, dur_h, COUNT(*) AS n_ending,
         CAST(SUM(censored) AS BIGINT) AS n_censored
  FROM users GROUP BY 1, 2
), curve AS (
  SELECT arm, dur_h AS hour,
         CAST(SUM(n_ending) OVER (PARTITION BY arm ORDER BY dur_h DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS at_risk,
         n_ending - n_censored AS converted, n_censored
  FROM hist
), arr AS (
  SELECT arm, list_sort(list({{'hour': hour, 'at_risk': at_risk,
                               'converted': converted,
                               'n_censored': n_censored}})) AS a
  FROM curve GROUP BY 1
), ex AS (
  SELECT arm, unnest(a) AS x, generate_subscripts(a, 1) AS pos, a FROM arr
)
SELECT arm, x.hour AS hour, x.at_risk AS at_risk,
       x.converted AS n_converted, x.n_censored AS n_censored,
       CAST(floor(list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(a[1:pos],
             r -> CAST(r.at_risk - r.converted AS DOUBLE)
                  / CAST(r.at_risk AS DOUBLE))),
         (s, y) -> s * y) * 1000000) AS BIGINT) AS survival_ppm
FROM ex
"""


SPECS += [
    QuerySpec("q_survival_km_arms", q_survival_km_arms,
              Q_SURVIVAL_KM_ARMS_ORACLE,
              "per-variant Kaplan-Meier conversion curves, ordered-fold exact",
              ("analytics", "stats", "survival", "causal")),
]


# --- logrank test over the two-arm conversion curves --------------------------------
# The significance companion of q_survival_km_arms: at every conversion
# hour, compare arm 1's observed conversions O1 with its expectation
# E1 = n1·d/n under the null that both arms share one hazard
# (n = at-risk total, d = conversions total, n1 = arm-1 at-risk); the
# logrank statistic sums O1 − E1 with hypergeometric variance
# V = d·(n1/n)·(1 − n1/n)·(n − d)/(n − 1). Per-hour terms are floored
# to micros (exact integers in, identical FP ops in identical order),
# so the summed statistic hash-matches; Z = (ΣO1 − ΣE1)/sqrt(ΣV) in
# milli. Shapes: the hour table is horizon-bounded; everything after
# the per-user rollup is <= 73 rows.


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_type")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts_ms").alias("start_ms"),
            F.min(F.expr(
                "CASE WHEN event_type = 'purchase' THEN ts_ms END"
            )).alias("fp_ms"),
        )
        .withColumn("arm", F.pmod(
            portable_hash64(F.col("user_id").cast("string")), F.lit(2)))
        .selectExpr(
            "arm",
            f"CASE WHEN fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}"
            f" THEN (fp_ms - start_ms) ELSE {KM_HORIZON_H * _HOUR_MS} END"
            f" div {_HOUR_MS} AS dur_h",
            f"CAST(fp_ms IS NOT NULL"
            f" AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS} AS INT)"
            " AS converted",
        )
    )
    hist = users.groupBy("dur_h").agg(
        F.count("*").alias("ending"),
        F.sum("converted").alias("d"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("ending1"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN converted ELSE 0 END"))
        .alias("o1"),
    )
    w = Window.orderBy(F.desc("dur_h")).rowsBetween(
        Window.unboundedPreceding, 0)
    terms = (
        hist.withColumn("n", F.sum("ending").over(w))
        .withColumn("n1", F.sum("ending1").over(w))
        .where("d > 0 AND n > 1")
        .selectExpr(
            "dur_h", "o1", "d", "n", "n1",
            "CAST(floor(CAST(n1 * d AS DOUBLE) / CAST(n AS DOUBLE)"
            " * 1000000) AS BIGINT) AS e1_micro",
            "CAST(floor(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
            " * 1000000) AS BIGINT) AS v_micro",
        )
    )
    return terms.agg(
        F.sum("o1").alias("o1_total"),
        F.sum("e1_micro").alias("e1_micro_total"),
        F.sum("v_micro").alias("v_micro_total"),
    ).selectExpr(
        "o1_total", "e1_micro_total", "v_micro_total",
        "CAST(floor((CAST(o1_total AS DOUBLE) * 1000000.0"
        " - CAST(e1_micro_total AS DOUBLE))"
        " / sqrt(CAST(v_micro_total AS DOUBLE) * 1000000.0)"
        " * 1000) AS BIGINT) AS z_milli",
    )


Q_LOGRANK_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
), u AS (
  SELECT user_id, MIN(ts_ms) AS start_ms,
         MIN(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS fp_ms
  FROM ev GROUP BY 1
), users AS (
  SELECT ({_ph64_sql("CAST(user_id AS VARCHAR)")}) % 2 AS arm,
         CASE WHEN fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS}
              THEN (fp_ms - start_ms)
              ELSE {KM_HORIZON_H * _HOUR_MS} END // {_HOUR_MS} AS dur_h,
         CAST(fp_ms IS NOT NULL
              AND fp_ms - start_ms <= {KM_HORIZON_H * _HOUR_MS} AS INT)
           AS converted
  FROM u
), hist AS (
  SELECT dur_h, COUNT(*) AS ending, CAST(SUM(converted) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ending1,
         CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
           AS o1
  FROM users GROUP BY 1
), terms AS (
  SELECT o1, d,
         CAST(SUM(ending) OVER (ORDER BY dur_h DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
         CAST(SUM(ending1) OVER (ORDER BY dur_h DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1
  FROM hist
), scored AS (
  SELECT o1,
         CAST(floor(CAST(n1 * d AS DOUBLE) / CAST(n AS DOUBLE)
           * 1000000) AS BIGINT) AS e1_micro,
         CAST(floor(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
           * 1000000) AS BIGINT) AS v_micro
  FROM terms WHERE d > 0 AND n > 1
)
SELECT CAST(SUM(o1) AS BIGINT) AS o1_total,
       CAST(SUM(e1_micro) AS BIGINT) AS e1_micro_total,
       CAST(SUM(v_micro) AS BIGINT) AS v_micro_total,
       CAST(floor((CAST(SUM(o1) AS DOUBLE) * 1000000.0
         - CAST(SUM(e1_micro) AS DOUBLE))
         / sqrt(CAST(SUM(v_micro) AS DOUBLE) * 1000000.0)
         * 1000) AS BIGINT) AS z_milli
FROM scored
"""


SPECS += [
    QuerySpec("q_logrank_test", q_logrank_test, Q_LOGRANK_ORACLE,
              "logrank two-arm survival test, per-hour terms in micros",
              ("analytics", "stats", "survival", "causal")),
]
