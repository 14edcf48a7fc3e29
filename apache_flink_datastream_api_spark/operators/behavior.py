"""Customer/user behavior analytics: RFM segmentation, new-vs-returning,
cumulative reach, skyline, visit bitmaps, graph reachability, LATERAL top-k.

The reference's analytics surface is keyed windowed reduces over user
streams (``chapter6/CourseUseCase.java:82-95``, ``chapter2/
KeyedStreamOperations.java:68-69``); this module extends that to the
product-analytics battery a warehouse team runs over the same event/order
data. Everything here is declarative DataFrame/SQL — Catalyst picks the
physical plan — and every output is integer-exact or floored-boundary
deterministic so the DuckDB oracle hash-matches bit-for-bit.

Scale notes (100 TB):
- RFM: facts aggregate per-customer FIRST (one shuffle, map-side partial
  agg), then quartile boundaries come from ONE ``percentile`` aggregate
  over the per-customer rollup (swap for ``approx_percentile`` at scale:
  same plan shape, bounded memory) and broadcast back — no global sort,
  no unpartitioned window over the fact table.
- new-vs-returning / cumulative reach: first-seen day per user is a
  per-user min (one shuffle); the daily rollup is calendar-bounded
  (≤ days in range), so its running-sum window is single-partition by
  CONSTRUCTION, not by luck.
- Pareto frontier: per-price-point group max, then a strict-predecessor
  running max over DISTINCT price points — the window input is the
  aggregated price-point table, not the fact table.
- reachability: the recursive CTE iterates over the event-type edge
  list (≤ |types|² rows) — the BFS frontier is bounded no matter how
  many trillions of events produced the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import QuerySpec
from ..sources.tables import load_table, temp_view

SPECS: list[QuerySpec] = []

DAY_MS = 86_400_000


# --- RFM customer segmentation ----------------------------------------------
# Recency / Frequency / Monetary quartile scores per customer, rolled up
# to named segments. Boundaries are quantile_cont values FLOORED TO
# INTEGERS before comparison (house pattern from q_decile_binning) so a
# score is never decided by a double comparison at a bucket edge.

def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (r,f,m) quartile cell: customer count, total monetary cents,
    and a named segment. Lower recency-days ⇒ higher r_score."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(floor(unix_millis(o_orderdate) / 86400000) AS BIGINT) AS day",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("monetary"),
    )
    anchor = o.agg(F.max("day").alias("today"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).selectExpr(
        "o_custkey", "today - last_day AS rec", "freq", "monetary"
    )
    # ONE aggregate computes all nine boundaries (three percentile
    # buffers, one pass) — nine scalar calls would sort the rollup nine
    # times (measured 6.5x on the decile query).
    bnd = rfm.agg(
        F.expr("percentile(rec, array(0.25, 0.5, 0.75))").alias("rb"),
        F.expr("percentile(freq, array(0.25, 0.5, 0.75))").alias("fb"),
        F.expr("percentile(monetary, array(0.25, 0.5, 0.75))").alias("mb"),
    ).selectExpr(
        *[f"CAST(floor(rb[{i}]) AS BIGINT) AS rb{i + 1}" for i in range(3)],
        *[f"CAST(floor(fb[{i}]) AS BIGINT) AS fb{i + 1}" for i in range(3)],
        *[f"CAST(floor(mb[{i}]) AS BIGINT) AS mb{i + 1}" for i in range(3)],
    )
    scored = rfm.crossJoin(F.broadcast(bnd)).selectExpr(
        "monetary",
        # recency: smaller is better — invert the >-count
        "4 - (CAST(rec > rb1 AS INT) + CAST(rec > rb2 AS INT) + CAST(rec > rb3 AS INT)) AS r_score",
        "1 + CAST(freq > fb1 AS INT) + CAST(freq > fb2 AS INT) + CAST(freq > fb3 AS INT) AS f_score",
        "1 + CAST(monetary > mb1 AS INT) + CAST(monetary > mb2 AS INT) + CAST(monetary > mb3 AS INT) AS m_score",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.expr("CAST(monetary AS DECIMAL(18,0))")).cast("long").alias("total_monetary_cents"),
        )
        .selectExpr(
            "r_score", "f_score", "m_score", "n_customers", "total_monetary_cents",
            "CASE WHEN r_score = 4 AND f_score = 4 THEN 'champions'"
            " WHEN f_score >= 3 AND r_score >= 3 THEN 'loyal'"
            " WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'"
            " WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'"
            " ELSE 'regular' END AS segment",
        )
    )


Q_RFM_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST(floor(epoch_ms(o_orderdate) / 86400000) AS BIGINT) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), per_cust AS (
  SELECT o_custkey, MAX(day) AS last_day, COUNT(*) AS freq,
         CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS monetary
  FROM o GROUP BY o_custkey
), rfm AS (
  SELECT o_custkey, (SELECT MAX(day) FROM o) - last_day AS rec, freq, monetary
  FROM per_cust
), b AS (
  SELECT CAST(floor(quantile_cont(rec, 0.25)) AS BIGINT) AS rb1,
         CAST(floor(quantile_cont(rec, 0.5))  AS BIGINT) AS rb2,
         CAST(floor(quantile_cont(rec, 0.75)) AS BIGINT) AS rb3,
         CAST(floor(quantile_cont(freq, 0.25)) AS BIGINT) AS fb1,
         CAST(floor(quantile_cont(freq, 0.5))  AS BIGINT) AS fb2,
         CAST(floor(quantile_cont(freq, 0.75)) AS BIGINT) AS fb3,
         CAST(floor(quantile_cont(monetary, 0.25)) AS BIGINT) AS mb1,
         CAST(floor(quantile_cont(monetary, 0.5))  AS BIGINT) AS mb2,
         CAST(floor(quantile_cont(monetary, 0.75)) AS BIGINT) AS mb3
  FROM rfm
), scored AS (
  SELECT monetary,
         4 - (CAST(rec > rb1 AS INT) + CAST(rec > rb2 AS INT) + CAST(rec > rb3 AS INT)) AS r_score,
         1 + CAST(freq > fb1 AS INT) + CAST(freq > fb2 AS INT) + CAST(freq > fb3 AS INT) AS f_score,
         1 + CAST(monetary > mb1 AS INT) + CAST(monetary > mb2 AS INT) + CAST(monetary > mb3 AS INT) AS m_score
  FROM rfm, b
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       CAST(SUM(CAST(monetary AS HUGEINT)) AS BIGINT) AS total_monetary_cents,
       CASE WHEN r_score = 4 AND f_score = 4 THEN 'champions'
            WHEN f_score >= 3 AND r_score >= 3 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored GROUP BY r_score, f_score, m_score
"""


# --- daily new vs returning users -------------------------------------------

def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: active users split into first-ever-seen-today vs
    returning. Day floor is pure epoch arithmetic (portable, no engine
    date_trunc timezone semantics)."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
    )
    active = ev.distinct()  # (user, day) pairs — one shuffle
    firsts = active.groupBy("user_id").agg(F.min("day_ms").alias("first_day_ms"))
    return (
        active.join(firsts, "user_id")  # same key as groupBy — AQE reuses the exchange
        .groupBy("day_ms")
        .agg(
            F.sum(F.expr("CAST(day_ms = first_day_ms AS INT)")).alias("new_users"),
            F.sum(F.expr("CAST(day_ms <> first_day_ms AS INT)")).alias("returning_users"),
        )
    )


Q_NEW_RETURNING_ORACLE = f"""
WITH active AS (
  SELECT DISTINCT user_id,
         epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms
  FROM events
), firsts AS (
  SELECT user_id, MIN(day_ms) AS first_day_ms FROM active GROUP BY user_id
)
SELECT day_ms,
       CAST(SUM(CAST(day_ms = first_day_ms AS INT)) AS BIGINT) AS new_users,
       CAST(SUM(CAST(day_ms <> first_day_ms AS INT)) AS BIGINT) AS returning_users
FROM active JOIN firsts USING (user_id)
GROUP BY day_ms
"""


# --- cumulative distinct users (reach curve) --------------------------------

def q_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day. The expensive part (first-seen
    day per user) is a per-user min; the running sum runs over the
    calendar-bounded daily rollup, so the unpartitioned window is safe
    at any fact scale."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms"
    )
    firsts = ev.groupBy("user_id").agg(F.min("day_ms").alias("first_day_ms"))
    daily_new = firsts.groupBy("first_day_ms").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("first_day_ms").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        F.col("first_day_ms").alias("day_ms"),
        F.col("new_users"),
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


Q_REACH_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, MIN(epoch_ms(ts) - epoch_ms(ts) % {DAY_MS}) AS first_day_ms
  FROM events GROUP BY user_id
), daily AS (
  SELECT first_day_ms AS day_ms, COUNT(*) AS new_users FROM firsts GROUP BY 1
)
SELECT day_ms, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day_ms
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_users
FROM daily
"""


# --- 2-D Pareto frontier (skyline) ------------------------------------------
# Parts minimizing retail price while maximizing size: p survives iff no
# q has (price < p AND size >= s) or (price <= p AND size > s). Two
# aggregation levels replace the naive quadratic NOT EXISTS self-join:
# (1) max size per exact price point, (2) strict-predecessor running max
# across ordered price points.

def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey", "CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents", "p_size"
    )
    g = p.groupBy("price_cents").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    g2 = g.withColumn("prev_max", F.max("gmax").over(w))
    return (
        p.join(g2, "price_cents")
        .where(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
        )
        .select("p_partkey", "price_cents", "p_size")
    )


Q_PARETO_ORACLE = """
WITH p AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents, p_size
  FROM part
), g AS (
  SELECT price_cents, MAX(p_size) AS gmax FROM p GROUP BY price_cents
), g2 AS (
  SELECT price_cents, gmax,
         MAX(gmax) OVER (ORDER BY price_cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM g
)
SELECT p_partkey, price_cents, p_size
FROM p JOIN g2 USING (price_cents)
WHERE p_size = gmax AND (prev_max IS NULL OR p_size > prev_max)
"""


# --- weekday visit bitmap ----------------------------------------------------
# Per-user day-of-week activity pattern packed into a 7-bit mask
# (bit_or aggregate — associative, map-side combinable), rolled up to a
# pattern distribution. Day-of-week is epoch arithmetic anchored on
# 1970-01-01 = Thursday ((d + 3) % 7 ⇒ 0 = Monday), same portability
# rationale as q_hour_heatmap.

def q_weekday_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"CAST(pmod(CAST(floor(unix_millis(ts) / {DAY_MS}) AS BIGINT) + 3, 7) AS INT) AS dow",
    )
    masks = ev.groupBy("user_id").agg(
        F.expr("bit_or(CAST(1 AS BIGINT) << dow)").alias("mask")
    )
    return (
        masks.groupBy("mask")
        .agg(F.count("*").alias("n_users"))
        .selectExpr("mask", "CAST(bit_count(mask) AS INT) AS n_active_dows", "n_users")
    )


Q_WEEKDAY_BITMAP_ORACLE = f"""
WITH e AS (
  SELECT user_id,
         CAST((CAST(floor(epoch_ms(ts) / {DAY_MS}) AS BIGINT) + 3) % 7 AS INT) AS dow
  FROM events
), m AS (
  SELECT user_id, bit_or(CAST(1 AS BIGINT) << dow) AS mask FROM e GROUP BY user_id
)
SELECT mask, CAST(bit_count(mask) AS INT) AS n_active_dows, COUNT(*) AS n_users
FROM m GROUP BY mask
"""


# --- event-type reachability (recursive CTE BFS) ----------------------------
# Which event types are reachable from 'signup' through observed
# consecutive-event transitions, and in how few hops. The edge list is
# |types|² at most — the recursion (Spark 4 WITH RECURSIVE) runs over
# that tiny relation regardless of fact volume. Depth-bounded UNION ALL
# BFS + min(hops) aggregate keeps identical semantics on both engines
# (neither needs cycle detection: the bound caps expansion).

MAX_HOPS = 6


def q_reachable_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .distinct()
    )
    with temp_view(edges.localCheckpoint(eager=True), "_behavior_edges") as view:
        return spark.sql(
            f"""
            WITH RECURSIVE r(t, d) AS (
              SELECT 'signup', 0
              UNION ALL
              SELECT e.dst, r.d + 1
              FROM {view} e JOIN r ON e.src = r.t
              WHERE r.d < {MAX_HOPS}
            )
            SELECT t AS event_type, MIN(d) AS hops FROM r GROUP BY t
            """
        )


Q_REACHABLE_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
  QUALIFY dst IS NOT NULL
)
SELECT t AS event_type, MIN(d) AS hops FROM (
  WITH RECURSIVE r(t, d) AS (
    SELECT 'signup', 0
    UNION ALL
    SELECT e.dst, r.d + 1 FROM edges e JOIN r ON e.src = r.t WHERE r.d < {MAX_HOPS}
  ) SELECT t, d FROM r
) GROUP BY t
"""


# --- per-nation top-2 customers via LATERAL ---------------------------------
# The correlated LATERAL subquery surface (Spark 4 + DuckDB both speak
# it). Semantically identical to the rank-filter house pattern
# (q_top3_orders_per_priority) — registered to pin the LATERAL plan
# shape itself: Catalyst rewrites the correlated limit into a
# partitioned rank, so at scale this is one shuffle on the correlation
# key, not |nation| probes.

def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    with temp_view(load_table(spark, sf_dir, "customer"), "_behavior_cust") as cust, \
            temp_view(load_table(spark, sf_dir, "nation"), "_behavior_nation") as nation:
        return spark.sql(
            f"""
            SELECT n.n_name, l.c_custkey,
                   CAST(round(l.c_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM {nation} n,
            LATERAL (
              SELECT c_custkey, c_acctbal
              FROM {cust} c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey
              LIMIT 2
            ) l
            """
        )


Q_LATERAL_ORACLE = """
SELECT n.n_name, l.c_custkey,
       CAST(round(l.c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) l
"""


# --- DataFrame-API lateral join (Spark 4 df.lateralJoin) --------------------
# The same correlated top-k-per-group shape as q_lateral_topk, through the
# Spark 4 DataFrame API instead of SQL text: the right side references the
# left row via F.col(...).outer(), so Catalyst plans the identical
# LateralJoin -> per-group window-group-limit it gives the SQL form — this
# query pins that the programmatic surface decorrelates the same way.
# Distinct data path from q_lateral_topk (suppliers, not customers).

def q_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    top2 = (
        s.where(F.col("s_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.desc("s_acctbal"), "s_suppkey")
        .limit(2)
        .select("s_suppkey", "s_acctbal")
    )
    return n.lateralJoin(top2).select(
        "n_name",
        "s_suppkey",
        F.expr("CAST(round(s_acctbal * 100) AS BIGINT)").alias("acctbal_cents"),
    )


Q_LATERAL_API_ORACLE = """
SELECT n.n_name, l.s_suppkey,
       CAST(round(l.s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM nation n,
LATERAL (
  SELECT s_suppkey, s_acctbal
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_suppkey
  LIMIT 2
) l
"""


SPECS += [
    QuerySpec("q_lateral_join_api", q_lateral_join_api, Q_LATERAL_API_ORACLE,
              "per-nation top-2 suppliers via the DataFrame lateralJoin API "
              "(outer() column references)",
              ("relational", "lateral", "spark4")),
    QuerySpec("q_rfm_segmentation", q_rfm_segmentation, Q_RFM_ORACLE,
              "RFM quartile segmentation with floored-boundary exact scoring",
              ("analytics", "segmentation")),
    QuerySpec("q_new_vs_returning", q_new_vs_returning, Q_NEW_RETURNING_ORACLE,
              "daily new vs returning active users",
              ("analytics", "clickstream")),
    QuerySpec("q_cumulative_reach", q_cumulative_reach, Q_REACH_ORACLE,
              "cumulative distinct-user reach curve by day",
              ("analytics", "clickstream")),
    QuerySpec("q_pareto_frontier", q_pareto_frontier, Q_PARETO_ORACLE,
              "2-D skyline via per-price group max + strict-predecessor running max",
              ("analytics", "rank")),
    QuerySpec("q_weekday_bitmap", q_weekday_bitmap, Q_WEEKDAY_BITMAP_ORACLE,
              "per-user day-of-week bitmask distribution (bit_or aggregate)",
              ("analytics", "clickstream")),
    QuerySpec("q_reachable_event_types", q_reachable_event_types, Q_REACHABLE_ORACLE,
              "recursive-CTE BFS over the event-type transition graph",
              ("analytics", "graph", "recursive")),
    QuerySpec("q_lateral_topk", q_lateral_topk, Q_LATERAL_ORACLE,
              "per-nation top-2 customers via correlated LATERAL subquery",
              ("relational", "lateral")),
]


# --- Benford leading-digit audit --------------------------------------------
# Fraud/quality screen: distribution of the first significant digit of
# order totals vs the Benford expectation. The digit comes from the
# DECIMAL STRING of integer cents — never float log10 — so bucketing is
# exact; only the display share divides (one IEEE op on two exact
# integers, identical in both engines). Single scan, 9-row aggregate.

def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT) AS digit"
    )
    total = Window.partitionBy()
    return (
        o.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .withColumn("pct", F.round(F.col("n") / F.sum("n").over(total) * 100, 6))
    )


Q_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), g AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
)
SELECT digit, n, round(n / SUM(n) OVER () * 100, 6) AS pct FROM g
"""


SPECS += [
    QuerySpec("q_benford_digits", q_benford_digits, Q_BENFORD_ORACLE,
              "Benford leading-digit audit from exact integer-cents strings",
              ("analytics", "audit")),
]


# --- dormant-user reactivation ----------------------------------------------
# Winback analytics: an event after > REACT_GAP_MS of per-user silence is
# a "reactivation". One lag() pass (single user_id shuffle), then a
# calendar-bounded daily rollup.

REACT_GAP_MS = 2 * DAY_MS


def q_dormant_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return (
        ev.withColumn("gap", F.col("ts_ms") - F.lag("ts_ms").over(w))
        .where(F.col("gap") > REACT_GAP_MS)
        .selectExpr("user_id", f"ts_ms - pmod(ts_ms, {DAY_MS}) AS day_ms", "gap")
        .groupBy("day_ms")
        .agg(
            F.count("*").alias("n_reactivations"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("gap").alias("max_gap_ms"),
        )
    )


Q_REACTIVATION_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
), g AS (
  SELECT user_id, ts_ms,
         ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS gap
  FROM e
)
SELECT ts_ms - ts_ms % {DAY_MS} AS day_ms,
       COUNT(*) AS n_reactivations,
       COUNT(DISTINCT user_id) AS n_users,
       MAX(gap) AS max_gap_ms
FROM g WHERE gap > {REACT_GAP_MS}
GROUP BY 1
"""


# --- top-k with OTHERS rollup -----------------------------------------------
# The BI staple Flink's keyed reduce can't express in one pass: top-3
# brands by exact revenue, every other brand folded into one 'OTHER'
# row, shares summing to 100%. Aggregate-then-rank: the rank runs over
# the |brands| rollup, never the fact table.

TOPK_BRANDS = 3


def q_topk_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_brand = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(F.expr(
            "CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))"
        )).cast("long").alias("cents"))
    )
    w = Window.orderBy(F.desc("cents"), "p_brand")
    labeled = per_brand.withColumn("rk", F.row_number().over(w)).selectExpr(
        f"CASE WHEN rk <= {TOPK_BRANDS} THEN p_brand ELSE 'OTHER' END AS brand",
        f"CASE WHEN rk <= {TOPK_BRANDS} THEN rk ELSE {TOPK_BRANDS + 1} END AS rk",
        "cents",
    )
    total = Window.partitionBy()
    return (
        labeled.groupBy("brand", "rk")
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("revenue_cents"))
        .withColumn(
            "share_pct",
            F.round(F.col("revenue_cents") / F.sum("revenue_cents").over(total) * 100, 6),
        )
    )


Q_TOPK_OTHERS_ORACLE = f"""
WITH per_brand AS (
  SELECT p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS BIGINT) AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), labeled AS (
  SELECT CASE WHEN rk <= {TOPK_BRANDS} THEN p_brand ELSE 'OTHER' END AS brand,
         CASE WHEN rk <= {TOPK_BRANDS} THEN rk ELSE {TOPK_BRANDS + 1} END AS rk,
         cents
  FROM (SELECT p_brand, cents,
               row_number() OVER (ORDER BY cents DESC, p_brand) AS rk
        FROM per_brand)
), g AS (
  SELECT brand, rk, CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS revenue_cents
  FROM labeled GROUP BY brand, rk
)
SELECT brand, rk, revenue_cents,
       round(revenue_cents / SUM(revenue_cents) OVER () * 100, 6) AS share_pct
FROM g
"""


SPECS += [
    QuerySpec("q_dormant_reactivation", q_dormant_reactivation, Q_REACTIVATION_ORACLE,
              "daily winback counts: events after >2d per-user silence",
              ("analytics", "clickstream")),
    QuerySpec("q_topk_with_others", q_topk_with_others, Q_TOPK_OTHERS_ORACLE,
              "top-3 brands by exact revenue with OTHER rollup and shares",
              ("analytics", "rank")),
]


# --- chi-square independence test (event_type × weekday) --------------------
# Is activity type independent of weekday? Pearson chi² over the full
# R×C grid — INCLUDING zero cells (their term is E = R·C/N; dropping
# them understates the statistic). Order-independence trick: each
# cell's term is one IEEE expression over exact integers (identical on
# both engines), ROUNDED to 6 decimals, then summed in DECIMAL — so a
# 1000-way partitioned sum equals the single-threaded oracle exactly.
# The grid is |types| × 7 — driver-scale however large the fact table.

def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"CAST(pmod(CAST(floor(unix_millis(ts) / {DAY_MS}) AS BIGINT) + 3, 7) AS INT) AS dow",
    )
    obs = ev.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = rows.crossJoin(F.broadcast(cols)).crossJoin(F.broadcast(n))
    cells = grid.join(obs, ["event_type", "dow"], "left").selectExpr(
        "event_type", "dow", "r", "c", "n", "coalesce(o, 0) AS o"
    )
    term = (
        "round(CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE)), 6)"
    )
    return cells.selectExpr(
        "event_type", "dow", f"CAST({term} AS DECIMAL(28,6)) AS t"
    ).agg(
        F.count("*").alias("n_cells"),
        F.sum("t").cast("double").alias("chi2"),
    )


Q_CHI2_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         CAST((CAST(floor(epoch_ms(ts) / {DAY_MS}) AS BIGINT) + 3) % 7 AS INT) AS dow
  FROM events
), obs AS (
  SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2
), r AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
c AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
n AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT r.event_type, c.dow, r.r, c.c, n.n, COALESCE(obs.o, 0) AS o
  FROM r CROSS JOIN c CROSS JOIN n
  LEFT JOIN obs ON obs.event_type = r.event_type AND obs.dow = c.dow
), terms AS (
  SELECT CAST(round(CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         AS DECIMAL(28,6)) AS t
  FROM cells
)
SELECT COUNT(*) AS n_cells, CAST(SUM(t) AS DOUBLE) AS chi2 FROM terms
"""


SPECS += [
    QuerySpec("q_chi2_independence", q_chi2_independence, Q_CHI2_ORACLE,
              "Pearson chi-square over the full type×weekday grid, order-independent",
              ("analytics", "stats")),
]


# --- lag-1 autocorrelation of the daily revenue series ----------------------
# Is today's event value predictive of tomorrow's? Pearson r between
# consecutive-day totals, computed from exact integer sums (the
# q_portable_stats moment machinery): the daily rollup is
# calendar-bounded, pairs come from ONE lead() over it, and the final r
# is a single IEEE composition over exact integers — identical on both
# engines without tolerance.

def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    daily = ev.groupBy("day_ms").agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("x")
    )
    w = Window.orderBy("day_ms")
    pairs = (
        daily.withColumn("y", F.lead("x").over(w))
        .withColumn("next_day", F.lead("day_ms").over(w))
        .where(F.col("next_day") == F.col("day_ms") + DAY_MS)
        .select("x", "y")
    )
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(28,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(28,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(28,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(28,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(28,0)) * y")).alias("syy"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_pairs",
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
        " AS autocorr_r",
    )


Q_AUTOCORR_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), pairs AS (
  SELECT x, lead(x) OVER (ORDER BY day_ms) AS y,
         lead(day_ms) OVER (ORDER BY day_ms) AS next_day, day_ms
  FROM daily
  QUALIFY next_day = day_ms + {DAY_MS}
), m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS autocorr_r
FROM m
"""


SPECS += [
    QuerySpec("q_autocorr_daily", q_autocorr_daily, Q_AUTOCORR_ORACLE,
              "lag-1 autocorrelation of daily revenue from exact integer moments",
              ("analytics", "stats", "timeseries")),
]


# --- audience overlap matrix (Jaccard between event-type audiences) ---------
# "How much do my clickers overlap my buyers?" — pairwise Jaccard over
# user sets WITHOUT a user-level self-join: each user folds to a 5-bit
# membership mask (one shuffle), masks roll up to ≤ 2⁵ group counts
# (driver-scale), and every pairwise intersection/union is integer
# arithmetic over that tiny rollup. At 100 TB the fact table is
# touched once, and nothing downstream depends on its size.

def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events").selectExpr("user_id", "event_type")
    bit = " + ".join(
        f"shiftleft(CAST(max(CAST(event_type = '{t}' AS INT)) AS BIGINT), {i})"
        for i, t in enumerate(types)
    )
    masks = ev.groupBy("user_id").agg(F.expr(bit).alias("mask"))
    rollup = masks.groupBy("mask").agg(F.count("*").alias("n"))
    pairs = []
    for i, a in enumerate(types):
        for j in range(i + 1, len(types)):
            b = types[j]
            pairs.append(
                f"named_struct('type_a', '{a}', 'type_b', '{b}',"
                f" 'in_a', CAST((shiftright(mask, {i}) & 1) = 1 AS INT),"
                f" 'in_b', CAST((shiftright(mask, {j}) & 1) = 1 AS INT))"
            )
    exploded = rollup.selectExpr("n", f"explode(array({', '.join(pairs)})) AS p")
    return (
        exploded.selectExpr("p.type_a", "p.type_b", "n", "p.in_a", "p.in_b")
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("n * in_a * in_b")).alias("n_both"),
            F.sum(F.expr("n * CAST(in_a + in_b > 0 AS INT)")).alias("n_either"),
        )
        .selectExpr(
            "type_a", "type_b", "n_both", "n_either",
            "n_both * 1000 div n_either AS jaccard_milli",
        )
    )


Q_AUDIENCE_ORACLE = """
WITH masks AS (
  SELECT user_id,
         (CAST(MAX(CAST(event_type = 'click' AS INT)) AS BIGINT) << 0)
       + (CAST(MAX(CAST(event_type = 'error' AS INT)) AS BIGINT) << 1)
       + (CAST(MAX(CAST(event_type = 'purchase' AS INT)) AS BIGINT) << 2)
       + (CAST(MAX(CAST(event_type = 'signup' AS INT)) AS BIGINT) << 3)
       + (CAST(MAX(CAST(event_type = 'view' AS INT)) AS BIGINT) << 4) AS mask
  FROM events GROUP BY user_id
), rollup AS (
  SELECT mask, COUNT(*) AS n FROM masks GROUP BY mask
), types(t, i) AS (
  VALUES ('click', 0), ('error', 1), ('purchase', 2), ('signup', 3), ('view', 4)
), pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, a.i AS ia, b.i AS ib
  FROM types a JOIN types b ON a.i < b.i
), cells AS (
  SELECT p.type_a, p.type_b, r.n,
         CAST((r.mask >> p.ia) & 1 = 1 AS INT) AS in_a,
         CAST((r.mask >> p.ib) & 1 = 1 AS INT) AS in_b
  FROM pairs p CROSS JOIN rollup r
)
SELECT type_a, type_b,
       CAST(SUM(n * in_a * in_b) AS BIGINT) AS n_both,
       CAST(SUM(n * CAST(in_a + in_b > 0 AS INT)) AS BIGINT) AS n_either,
       CAST(SUM(n * in_a * in_b) * 1000 // SUM(n * CAST(in_a + in_b > 0 AS INT))
            AS BIGINT) AS jaccard_milli
FROM cells GROUP BY 1, 2
"""


# --- single-event-session bounce rate ---------------------------------------
# Classic web-analytics KPI on the gap-sessionization machinery: a
# session with exactly one event is a bounce. One lag pass builds
# session ids, one aggregate sizes them, the daily rollup is
# calendar-bounded. 30-minute gap (industry default).

BOUNCE_GAP_MS = 30 * 60 * 1000


def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = ev.withColumn(
        "ns",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w) > BOUNCE_GAP_MS),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        F.min("ts_ms").alias("start_ms"),
    )
    return (
        per_session.selectExpr(
            f"start_ms - pmod(start_ms, {DAY_MS}) AS day_ms",
            "CAST(n_events = 1 AS INT) AS bounced",
        )
        .groupBy("day_ms")
        .agg(F.count("*").alias("n_sessions"), F.sum("bounced").alias("n_bounces"))
        .selectExpr(
            "day_ms", "n_sessions", "n_bounces",
            "n_bounces * 1000 div n_sessions AS bounce_milli",
        )
    )


Q_BOUNCE_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
), flagged AS (
  SELECT user_id, ts_ms, event_id,
         CASE WHEN lag(ts_ms) OVER w IS NULL
                OR ts_ms - lag(ts_ms) OVER w > {BOUNCE_GAP_MS}
              THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
  SELECT user_id, ts_ms,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), per_session AS (
  SELECT user_id, sid, COUNT(*) AS n_events, MIN(ts_ms) AS start_ms
  FROM sess GROUP BY 1, 2
), daily AS (
  SELECT start_ms - start_ms % {DAY_MS} AS day_ms,
         CAST(n_events = 1 AS INT) AS bounced
  FROM per_session
)
SELECT day_ms, COUNT(*) AS n_sessions, CAST(SUM(bounced) AS BIGINT) AS n_bounces,
       CAST(SUM(bounced) * 1000 // COUNT(*) AS BIGINT) AS bounce_milli
FROM daily GROUP BY day_ms
"""


SPECS += [
    QuerySpec("q_audience_overlap", q_audience_overlap, Q_AUDIENCE_ORACLE,
              "pairwise audience Jaccard via bitmask rollup — no user self-join",
              ("analytics", "overlap")),
    QuerySpec("q_bounce_rate", q_bounce_rate, Q_BOUNCE_ORACLE,
              "daily single-event-session bounce rate on gap sessionization",
              ("analytics", "clickstream")),
]


# --- signup → first-purchase activation -------------------------------------
# The activation-funnel latency readout: of users whose first event
# window contains a signup, how many purchase within 72 h, and how fast?
# Per-user firsts are conditional MINs (one shuffle); the
# purchase-after-signup constraint needs the signup time next to each
# purchase, i.e. one keyed equi-join of two rollups — never a row-level
# self-join of the fact table. Median delay is floored to integer ms.

ACTIVATION_WINDOW_MS = 72 * 3600 * 1000


def q_signup_activation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_millis(ts) AS ts_ms"
    )
    signups = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts_ms").alias("signup_ms")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_ms"
    )
    first_after = (
        purchases.join(signups, "user_id")
        .where(F.col("ts_ms") >= F.col("signup_ms"))
        .groupBy("user_id", "signup_ms")
        .agg(F.min("ts_ms").alias("first_purchase_ms"))
        .selectExpr("user_id", "first_purchase_ms - signup_ms AS delay_ms")
    )
    joined = signups.join(first_after, "user_id", "left")
    return joined.agg(
        F.count("*").alias("n_signup_users"),
        F.sum(F.expr("CAST(delay_ms IS NOT NULL AS INT)")).alias("n_converted"),
        F.sum(
            F.expr(f"CAST(delay_ms <= {ACTIVATION_WINDOW_MS} AS INT)")
        ).alias("n_converted_72h"),
        F.expr("CAST(floor(percentile(delay_ms, 0.5)) AS BIGINT)").alias("median_delay_ms"),
        F.min("delay_ms").alias("min_delay_ms"),
    ).selectExpr(
        "n_signup_users", "n_converted", "n_converted_72h",
        "n_converted_72h * 1000 div n_signup_users AS conversion_72h_milli",
        "median_delay_ms", "min_delay_ms",
    )


Q_ACTIVATION_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), signups AS (
  SELECT user_id, MIN(ts_ms) AS signup_ms FROM e
  WHERE event_type = 'signup' GROUP BY user_id
), first_after AS (
  SELECT p.user_id, MIN(p.ts_ms) - s.signup_ms AS delay_ms
  FROM e p JOIN signups s USING (user_id)
  WHERE p.event_type = 'purchase' AND p.ts_ms >= s.signup_ms
  GROUP BY p.user_id, s.signup_ms
), joined AS (
  SELECT s.user_id, f.delay_ms FROM signups s
  LEFT JOIN first_after f USING (user_id)
)
SELECT COUNT(*) AS n_signup_users,
       CAST(SUM(CAST(delay_ms IS NOT NULL AS INT)) AS BIGINT) AS n_converted,
       CAST(SUM(CAST(delay_ms <= {ACTIVATION_WINDOW_MS} AS INT)) AS BIGINT) AS n_converted_72h,
       CAST(SUM(CAST(delay_ms <= {ACTIVATION_WINDOW_MS} AS INT)) * 1000 // COUNT(*)
            AS BIGINT) AS conversion_72h_milli,
       CAST(floor(quantile_cont(delay_ms, 0.5)) AS BIGINT) AS median_delay_ms,
       MIN(delay_ms) AS min_delay_ms
FROM joined
"""


# --- hour-of-day seasonality index ------------------------------------------
# Per hour 0-23: activity count, exact value cents, and a seasonality
# index (share of revenue × 24, milli-scaled: 1000 = perfectly flat).
# One 24-key aggregate; the index divides two exact integers.

def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "CAST(floor(pmod(unix_millis(ts), 86400000) / 3600000) AS INT) AS hour",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    hourly = ev.groupBy("hour").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("cents"),
    )
    total = Window.partitionBy()
    return hourly.withColumn(
        "total_cents", F.sum("cents").over(total)
    ).selectExpr(
        "hour", "n_events", "cents",
        # BIGINT div BIGINT: exact floor for the positive operands here
        # (cents*24000 fits a long through ~4e14 total cents; beyond
        # that, lift both sides to DECIMAL div)
        "cents * 24000 div total_cents AS season_milli",
    )


Q_SEASONALITY_ORACLE = """
WITH hourly AS (
  SELECT CAST(floor((epoch_ms(ts) % 86400000) / 3600000) AS INT) AS hour,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
)
SELECT hour, n_events, cents,
       CAST(cents * 24000 // SUM(cents) OVER () AS BIGINT) AS season_milli
FROM hourly
"""


SPECS += [
    QuerySpec("q_signup_activation", q_signup_activation, Q_ACTIVATION_ORACLE,
              "signup→purchase 72h activation rate + floored median delay",
              ("analytics", "funnel")),
    QuerySpec("q_seasonality_index", q_seasonality_index, Q_SEASONALITY_ORACLE,
              "hour-of-day revenue seasonality index from exact integer shares",
              ("analytics", "timeseries")),
]


# --- order backlog over time -------------------------------------------------
# Operational WIP metric: orders placed minus orders fully shipped,
# cumulatively per day. "Fully shipped" = the order's LAST lineitem
# shipdate. Two daily delta streams (+placed, −shipped) union into one
# calendar-bounded series; the running sum is over ≤ |days| rows.

def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(floor(unix_millis(o_orderdate) / 86400000) AS BIGINT) AS placed_day",
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.expr(
            "CAST(floor(unix_millis(max(l_shipdate)) / 86400000) AS BIGINT)"
        ).alias("shipped_day"))
    )
    deltas = (
        o.selectExpr("placed_day AS day", "1 AS d")
        .unionByName(
            o.join(shipped, o.o_orderkey == shipped.l_orderkey)
            .selectExpr("shipped_day AS day", "-1 AS d")
        )
        .groupBy("day")
        .agg(F.sum("d").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        F.expr("day * 86400000").alias("day_ms"),
        "delta",
        F.sum("delta").over(w).alias("backlog"),
    )


Q_BACKLOG_ORACLE = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(epoch_ms(o_orderdate) / 86400000) AS BIGINT) AS placed_day
  FROM orders
), shipped AS (
  SELECT l_orderkey,
         CAST(floor(epoch_ms(MAX(l_shipdate)) / 86400000) AS BIGINT) AS shipped_day
  FROM lineitem GROUP BY l_orderkey
), deltas AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
    SELECT placed_day AS day, 1 AS d FROM o
    UNION ALL
    SELECT s.shipped_day, -1 FROM o JOIN shipped s ON o.o_orderkey = s.l_orderkey
  ) GROUP BY day
)
SELECT day * 86400000 AS day_ms, delta,
       CAST(SUM(delta) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM deltas
"""


# --- duplicate-payment audit -------------------------------------------------
# Fraud/ops screen: same customer, same $1000 amount band, within a
# year — the double-charge / split-invoice signature. The self-join
# keys on (custkey, amount-band) — an EQUI join whose groups are tiny
# by nature — with the day window as a residual; no unkeyed pair scan
# anywhere.

DUP_PAY_WINDOW_DAYS = 365
DUP_PAY_BAND_CENTS = 100_000


def q_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_custkey",
        f"CAST(round(o_totalprice * 100) AS BIGINT) div {DUP_PAY_BAND_CENTS} AS band",
        "CAST(floor(unix_millis(o_orderdate) / 86400000) AS BIGINT) AS day",
    )
    a = o.selectExpr("o_custkey", "band", "o_orderkey AS ok_a", "day AS day_a")
    b = o.selectExpr("o_custkey", "band", "o_orderkey AS ok_b", "day AS day_b")
    return (
        a.join(b, ["o_custkey", "band"])
        .where(
            (F.col("ok_a") < F.col("ok_b"))
            & (F.expr(f"abs(day_a - day_b) <= {DUP_PAY_WINDOW_DAYS}"))
        )
        .select("o_custkey", "band", "ok_a", "ok_b",
                F.expr("abs(day_a - day_b)").alias("days_apart"))
    )


Q_DUP_PAY_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS band,
         CAST(floor(epoch_ms(o_orderdate) / 86400000) AS BIGINT) AS day
  FROM orders
)
SELECT a.o_custkey, a.band, a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
       abs(a.day - b.day) AS days_apart
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band
 AND a.o_orderkey < b.o_orderkey
 AND abs(a.day - b.day) <= {DUP_PAY_WINDOW_DAYS}
"""


SPECS += [
    QuerySpec("q_order_backlog", q_order_backlog, Q_BACKLOG_ORACLE,
              "cumulative placed-minus-shipped order backlog per day",
              ("analytics", "ops")),
    QuerySpec("q_duplicate_payments", q_duplicate_payments, Q_DUP_PAY_ORACLE,
              "double-charge signature: same (customer, amount band) within a year",
              ("analytics", "audit")),
]


# --- nonparametric A/B tests: Mann-Whitney U + Kolmogorov-Smirnov -----------
# Do 'click' and 'purchase' event values come from the same
# distribution? Both classic tests reduce to running sums over the
# DISTINCT-value rollup, so both are integer-exact:
#   2·R_A = Σ_v c_a(v) · (2·less(v) + c_a(v) + c_b(v) + 1)   (avg-tie ranks ×2)
#   2·U_A = 2·R_A − n_a·(n_a+1)
#   KS    = max_v |F_a(v) − F_b(v)| = max |cumA·n_b − cumB·n_a| / (n_a·n_b)
# The running sums use the value-sharded two-pass prefix sum (5th user
# of the house machinery) — the distinct-value domain never funnels
# through one partition. Output is one row of exact integers plus a
# floor-scaled KS.

MW_SHARD_CENTS = 2_000


def q_rank_tests_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).selectExpr(
        "CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(event_type = 'click' AS INT) AS is_a",
    )
    g = ev.groupBy("v").agg(
        F.sum("is_a").alias("c_a"),
        F.sum(F.expr("1 - is_a")).alias("c_b"),
    ).selectExpr("v", "c_a", "c_b", f"v div {MW_SHARD_CENTS} AS shard")
    in_shard = Window.partitionBy("shard").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = g.select(
        "*",
        F.sum("c_a").over(in_shard).alias("la"),
        F.sum("c_b").over(in_shard).alias("lb"),
    )
    shard_w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        g.groupBy("shard").agg(F.sum("c_a").alias("sa"), F.sum("c_b").alias("sb"))
        .select(
            "shard",
            F.coalesce(F.sum("sa").over(shard_w), F.lit(0)).alias("base_a"),
            F.coalesce(F.sum("sb").over(shard_w), F.lit(0)).alias("base_b"),
        )
    )
    cum = local.join(F.broadcast(bases), "shard").selectExpr(
        "c_a", "c_b",
        "base_a + la AS cum_a",          # inclusive
        "base_b + lb AS cum_b",
        "base_a + la - c_a AS less_a",   # strictly below v
        "base_b + lb - c_b AS less_b",
    )
    return (
        cum.crossJoin(
            F.broadcast(cum.agg(
                F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
            ))
        )
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.expr(
                "CAST(c_a AS DECIMAL(28,0)) * (2 * (less_a + less_b) + c_a + c_b + 1)"
            )).cast("long").alias("r2a"),
            F.max(F.expr(
                "abs(CAST(cum_a AS DECIMAL(28,0)) * n_b - CAST(cum_b AS DECIMAL(28,0)) * n_a)"
            )).cast("long").alias("ks_num"),
        )
        .selectExpr(
            "n_a", "n_b",
            "r2a - n_a * (n_a + 1) AS u2_a",
            "ks_num",
            "ks_num * 1000 div (n_a * n_b) AS ks_milli",
        )
    )


Q_RANK_TESTS_ORACLE = """
WITH ev AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CAST(event_type = 'click' AS INT) AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
), g AS (
  SELECT v, SUM(is_a) AS c_a, SUM(1 - is_a) AS c_b FROM ev GROUP BY v
), cum AS (
  SELECT c_a, c_b,
         SUM(c_a) OVER w AS cum_a, SUM(c_b) OVER w AS cum_b,
         SUM(c_a) OVER w - c_a AS less_a, SUM(c_b) OVER w - c_b AS less_b
  FROM g WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), n AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b FROM g
)
SELECT n_a, n_b,
       CAST(SUM(CAST(c_a AS HUGEINT) * (2 * (less_a + less_b) + c_a + c_b + 1))
            AS BIGINT) - CAST(n_a * (n_a + 1) AS BIGINT) AS u2_a,
       CAST(MAX(abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a))
            AS BIGINT) AS ks_num,
       CAST(MAX(abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a))
            AS BIGINT) * 1000 // CAST(n_a * n_b AS BIGINT) AS ks_milli
FROM cum, n
GROUP BY n_a, n_b
"""


SPECS += [
    QuerySpec("q_rank_tests_ab", q_rank_tests_ab, Q_RANK_TESTS_ORACLE,
              "integer-exact Mann-Whitney U + KS statistic via sharded rank sums",
              ("analytics", "stats", "rank")),
]


# --- CUSUM changepoint detection ---------------------------------------------
# Where did the daily revenue level shift? The CUSUM statistic
# S_t = Σ_{i≤t}(x_i − mean) peaks at the changepoint. Kept integer:
# scale by n — T_t = Σ_{i≤t}(n·x_i − total) — so the argmax day and
# peak magnitude are exact; only the reported magnitude divides at the
# end. Daily series is calendar-bounded → the running sum is safe.

def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    daily = ev.groupBy("day_ms").agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(18,0))")).cast("long").alias("x")
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(28,0))")).cast("long").alias("t"),
    )
    w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("s", F.sum(F.expr("CAST(n AS DECIMAL(28,0)) * x - t")).over(w))
    )
    best = Window.orderBy(F.desc(F.abs(F.col("s"))), "day_ms")
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .selectExpr(
            "day_ms AS changepoint_day_ms",
            "CAST(s AS BIGINT) AS cusum_scaled",
            "CAST(abs(s) div n AS BIGINT) AS cusum_cents",
            "n AS n_days",
        )
    )


Q_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
         CAST(SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(CAST(x AS HUGEINT)) AS BIGINT) AS t FROM daily
), scored AS (
  SELECT day_ms,
         SUM(CAST(n AS HUGEINT) * x - t)
           OVER (ORDER BY day_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         n
  FROM daily CROSS JOIN tot
)
SELECT day_ms AS changepoint_day_ms,
       CAST(s AS BIGINT) AS cusum_scaled,
       CAST(abs(s) // n AS BIGINT) AS cusum_cents,
       n AS n_days
FROM scored
ORDER BY abs(s) DESC, day_ms LIMIT 1
"""


# --- weighted median (quantity-weighted price) -------------------------------
# The value at which HALF THE WEIGHT sits on each side — here the
# quantity-weighted median lineitem price. Same value-sharded prefix
# machinery (6th user): per-shard weight subtotals locate the crossing
# shard driver-side; one filtered in-shard cumulative pass finds the
# first price whose inclusive cumulative weight reaches ceil(W/2).
# Everything integer; no global sort of the fact table.

WM_SHARD_CENTS = 1 << 16


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(l_quantity AS BIGINT) AS qty",
    )
    g = li.groupBy("cents").agg(F.sum("qty").alias("w")).selectExpr(
        "cents", "w", f"cents div {WM_SHARD_CENTS} AS shard"
    )
    shard_tot = sorted(
        (r.shard, r.sw)
        for r in g.groupBy("shard").agg(F.sum("w").alias("sw")).collect()
    )
    total_w = sum(sw for _, sw in shard_tot)
    half = (total_w + 1) // 2  # ceil(W/2): first value reaching half the weight
    run = 0
    target_shard, base = None, 0
    for s, sw in shard_tot:
        if run + sw >= half:
            target_shard, base = s, run
            break
        run += sw
    in_shard = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.where(F.col("shard") == target_shard)
        .withColumn("cum", F.sum("w").over(in_shard) + F.lit(base))
        .where(F.col("cum") >= half)
        .orderBy("cents")
        .limit(1)
        .selectExpr(
            "cents AS weighted_median_cents",
            "cum AS cum_weight_at_median",
            f"CAST({total_w} AS BIGINT) AS total_weight",
        )
    )


Q_WEIGHTED_MEDIAN_ORACLE = """
WITH g AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT cents,
         SUM(w) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER () AS total_w
  FROM g
)
SELECT cents AS weighted_median_cents,
       CAST(cum AS BIGINT) AS cum_weight_at_median,
       CAST(total_w AS BIGINT) AS total_weight
FROM cum WHERE cum >= (total_w + 1) // 2
ORDER BY cents LIMIT 1
"""


SPECS += [
    QuerySpec("q_cusum_changepoint", q_cusum_changepoint, Q_CUSUM_ORACLE,
              "integer-scaled CUSUM changepoint over the daily revenue series",
              ("analytics", "timeseries")),
    QuerySpec("q_weighted_median", q_weighted_median, Q_WEIGHTED_MEDIAN_ORACLE,
              "quantity-weighted median price via sharded weight prefix sums",
              ("analytics", "rank")),
]


# --- any-order funnel via windowed bitmasks -----------------------------------
# The ordered funnel (q_funnel_3step) misses users who purchase FIRST and
# click later; "did all three within the window, any order" is set
# containment, not a sequence. The scalable form is the bitmask rollup
# (the weekday-bitmap device): one bit per step OR-ed into a per-(user,
# day) mask, then a trailing 7-day RANGE bit_or per user — the window
# carries ONE long per row however many events fed it, and completion is
# mask == 7. Cost: one fact shuffle to the (user, day) rollup, one
# calendar-bounded window on the same user exchange.

FUNNEL_ANY_WINDOW_DAYS = 7


def q_funnel_any_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .selectExpr(
            "user_id",
            f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
            "CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2"
            " ELSE 4 END AS bit",
        )
    )
    daily = ev.groupBy("user_id", "day_ms").agg(F.expr("bit_or(bit)").alias("mask"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_ms")
        .rangeBetween(-(FUNNEL_ANY_WINDOW_DAYS - 1) * DAY_MS, 0)
    )
    rolled = daily.withColumn("mask7", F.expr("bit_or(mask)").over(w))
    return rolled.groupBy("day_ms").agg(
        F.count("*").alias("n_active_users"),
        F.sum(F.expr("CASE WHEN mask7 = 7 THEN 1 ELSE 0 END")).cast("long")
        .alias("n_complete_users"),
    )


Q_FUNNEL_ANY_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              ELSE 4 END AS bit
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
), daily AS (
  SELECT user_id, day_ms, bit_or(bit) AS mask FROM ev GROUP BY 1, 2
), rolled AS (
  SELECT day_ms,
         bit_or(mask) OVER (PARTITION BY user_id ORDER BY day_ms
           RANGE BETWEEN {(FUNNEL_ANY_WINDOW_DAYS - 1) * DAY_MS} PRECEDING
           AND CURRENT ROW) AS mask7
  FROM daily
)
SELECT day_ms, COUNT(*) AS n_active_users,
       CAST(SUM(CASE WHEN mask7 = 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_complete_users
FROM rolled GROUP BY 1
"""


SPECS += [
    QuerySpec("q_funnel_any_order", q_funnel_any_order, Q_FUNNEL_ANY_ORACLE,
              "any-order 3-step funnel: trailing-window bitmask containment",
              ("behavior", "funnel")),
]


# --- DAU/MAU stickiness -------------------------------------------------------
# The product-health ratio every growth dashboard leads with: of the
# users active in a month, what fraction shows up on an average day?
# Exact integer form: stickiness_milli = 1000 * sum(daily distinct) /
# (n_days * monthly distinct). Two distinct rollups (day grain, month
# grain) on the same user exchange + one tiny month-level join — no
# rolling-window distinct state anywhere.

MONTH_MS = 2_592_000_000  # 30-day buckets (portable epoch arithmetic)


def q_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"unix_millis(ts) - pmod(unix_millis(ts), {DAY_MS}) AS day_ms",
    ).withColumn("month_ms", F.expr(f"day_ms - pmod(day_ms, {MONTH_MS})"))
    daily = ev.groupBy("month_ms", "day_ms").agg(
        F.countDistinct("user_id").alias("dau"))
    per_month_daily = daily.groupBy("month_ms").agg(
        F.count("*").alias("n_active_days"),
        F.sum("dau").cast("long").alias("dau_total"),
    )
    monthly = ev.groupBy("month_ms").agg(
        F.countDistinct("user_id").alias("mau"))
    return (
        per_month_daily.join(monthly, "month_ms")
        .selectExpr(
            "month_ms", "n_active_days", "dau_total", "mau",
            "dau_total * 1000 div (n_active_days * mau) AS stickiness_milli",
        )
    )


Q_STICKINESS_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
         (epoch_ms(ts) - epoch_ms(ts) % {DAY_MS})
           - (epoch_ms(ts) - epoch_ms(ts) % {DAY_MS}) % {MONTH_MS} AS month_ms
  FROM events
), daily AS (
  SELECT month_ms, day_ms, COUNT(DISTINCT user_id) AS dau
  FROM ev GROUP BY 1, 2
), pmd AS (
  SELECT month_ms, COUNT(*) AS n_active_days,
         CAST(SUM(dau) AS BIGINT) AS dau_total
  FROM daily GROUP BY 1
), monthly AS (
  SELECT month_ms, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1
)
SELECT month_ms, n_active_days, dau_total, mau,
       CAST(dau_total * 1000 // (n_active_days * mau) AS BIGINT)
         AS stickiness_milli
FROM pmd JOIN monthly USING (month_ms)
"""


SPECS += [
    QuerySpec("q_stickiness_dau_mau", q_stickiness_dau_mau, Q_STICKINESS_ORACLE,
              "DAU/MAU stickiness per 30-day bucket, exact integer ratio",
              ("behavior", "product")),
]


# --- top-k journey (trajectory) similarity ------------------------------------
# Distributed top-k TRAJECTORY similarity (the REPOSE/EDBT family from
# PAPERS.md, re-expressed relationally): which users' event SEQUENCES
# look most like a query user's? A trajectory is the (ts, event_id)-
# ordered event-type sequence; its signature is the multiset of
# TRANSITIONS (ordered bigrams), so similarity is order-aware — users
# visiting the same types in a different order score differently.
# Weighted Jaccard on transition multisets, in exact integer micros:
#   sim(u, q) = Σ min(cnt_u, cnt_q) / (n_u + n_q − Σ min)
# Candidate pruning is REPOSE's reference-point idea as an equi-join:
# only users sharing at least one of the query's transitions are scored
# (the broadcast query signature is the reference set); everything else
# is provably similarity 0 and never shuffles. Top-k via
# TakeOrderedAndProject over the candidate rollup.

TJ_QUERY_USER = 1
TJ_TOP_K = 10


def ts_journey_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    trans = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .selectExpr("user_id", "concat(event_type, '>', nxt) AS pair")
        .groupBy("user_id", "pair")
        .agg(F.count("*").alias("cnt"))
    )
    sizes = trans.groupBy("user_id").agg(F.sum("cnt").alias("n"))
    q = trans.where(F.col("user_id") == TJ_QUERY_USER).selectExpr(
        "pair", "cnt AS qcnt")
    qn = sizes.where(F.col("user_id") == TJ_QUERY_USER).selectExpr("n AS qn")
    overlap = (
        trans.where(F.col("user_id") != TJ_QUERY_USER)
        .join(F.broadcast(q), "pair")
        .groupBy("user_id")
        .agg(F.sum(F.least("cnt", "qcnt")).alias("inter"))
    )
    scored = (
        overlap.join(sizes, "user_id")
        .crossJoin(F.broadcast(qn))
        .selectExpr(
            "user_id",
            "inter",
            "inter * 1000000 div (n + qn - inter) AS sim_micro",
        )
    )
    top = scored.orderBy(F.desc("sim_micro"), "user_id").limit(TJ_TOP_K)
    wr = Window.orderBy(F.desc("sim_micro"), "user_id")
    return top.withColumn("rank", F.row_number().over(wr))


TS_JOURNEY_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events
), trans AS (
  SELECT user_id, pair, COUNT(*) AS cnt FROM (
    SELECT user_id,
           event_type || '>' ||
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts_ms, event_id) AS pair
    FROM ev
  ) WHERE pair IS NOT NULL
  GROUP BY 1, 2
), sizes AS (
  SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n FROM trans GROUP BY 1
), q AS (
  SELECT pair, cnt AS qcnt FROM trans WHERE user_id = {TJ_QUERY_USER}
), qn AS (
  SELECT n AS qn FROM sizes WHERE user_id = {TJ_QUERY_USER}
), overlap AS (
  SELECT t.user_id, CAST(SUM(LEAST(t.cnt, q.qcnt)) AS BIGINT) AS inter
  FROM trans t JOIN q USING (pair)
  WHERE t.user_id <> {TJ_QUERY_USER}
  GROUP BY 1
), scored AS (
  SELECT o.user_id, o.inter,
         o.inter * 1000000 // (s.n + qn.qn - o.inter) AS sim_micro
  FROM overlap o JOIN sizes s USING (user_id), qn
)
SELECT user_id, inter, sim_micro,
       row_number() OVER (ORDER BY sim_micro DESC, user_id) AS rank
FROM scored
QUALIFY rank <= {TJ_TOP_K}
"""


SPECS += [
    QuerySpec("ts_journey_topk", ts_journey_topk, TS_JOURNEY_ORACLE,
              "order-aware top-k trajectory similarity on transition multisets",
              ("behavior", "similarity", "timeseries")),
]


# --- Shannon entropy of per-user event mix -------------------------------------------
# The ln-based diversity twin of q_simpson_diversity: per user,
# H = -Σ p_t·ln(p_t) over event-type shares, plus the normalized
# evenness H/ln(k). Exact-integer discipline via the pinned ln-micros
# trick (tests/test_round3_laws.py): H_micro = Σ cnt·(lnm(n) - lnm(cnt))
# div n — every term is a BIGINT product of a count with a pinned
# lnm value, so the per-user features hash-match. One keyed rollup +
# one per-user aggregate; nothing leaves the (user, type) grain until
# the final rollup.

_ENT_LNM = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


def q_entropy_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mix = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    per_user = mix.groupBy("user_id").agg(
        F.sum("cnt").alias("n"), F.count("*").alias("k"))
    return (
        mix.join(per_user, "user_id")
        .groupBy("user_id", "n", "k")
        .agg(F.sum(F.expr(
            f"cnt * ({_ENT_LNM.format(x='n')} - {_ENT_LNM.format(x='cnt')})"
        )).alias("h_num"))
        .selectExpr(
            "user_id", "n AS n_events", "k AS n_types",
            "h_num div n AS entropy_micro",
            f"CASE WHEN k > 1 THEN (h_num div n) * 1000000"
            f" div {_ENT_LNM.format(x='k')} ELSE 0 END AS evenness_ppm",
        )
    )


Q_ENTROPY_ORACLE = f"""
WITH mix AS (
  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2
), per_user AS (
  SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS k
  FROM mix GROUP BY 1
), agg AS (
  SELECT m.user_id, p.n, p.k,
         CAST(SUM(m.cnt * ({_ENT_LNM.format(x='p.n')}
                           - {_ENT_LNM.format(x='m.cnt')})) AS BIGINT) AS h_num
  FROM mix m JOIN per_user p USING (user_id)
  GROUP BY 1, 2, 3
)
SELECT user_id, n AS n_events, k AS n_types,
       h_num // n AS entropy_micro,
       CASE WHEN k > 1 THEN (h_num // n) * 1000000
            // {_ENT_LNM.format(x='k')} ELSE 0 END AS evenness_ppm
FROM agg
"""


SPECS += [
    QuerySpec("q_entropy_features", q_entropy_features, Q_ENTROPY_ORACLE,
              "Shannon entropy + evenness of per-user event mix, lnm-exact",
              ("behavior", "stats", "features")),
]


# --- growth accounting (new / retained / resurrected / churned) -----------------------
# The canonical product-analytics decomposition: for every week, active
# users split into NEW (first week ever), RETAINED (active last week
# too) and RESURRECTED (active before, but not last week); CHURNED is
# last week's actives who went silent. The identity the readout must
# satisfy (and the oracle enforces by construction):
# active_w = new + retained + resurrected, and
# active_w - active_{w-1} = new + resurrected - churned.
# Shapes: one (user, week) dedup rollup, one keyed lag per user, one
# week rollup — every step on its own key, fact-scale only at the first
# aggregate.


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", f"unix_millis(ts) div {7 * DAY_MS} AS wk")
    uw = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    flagged = (
        uw.withColumn("prev_wk", F.lag("wk").over(w))
        .selectExpr(
            "user_id", "wk",
            "CASE WHEN prev_wk IS NULL THEN 'new'"
            " WHEN wk - prev_wk = 1 THEN 'retained'"
            " ELSE 'resurrected' END AS status",
        )
    )
    act = flagged.groupBy("wk").agg(
        F.count("*").alias("active"),
        F.sum(F.expr("CAST(status = 'new' AS BIGINT)")).alias("new_users"),
        F.sum(F.expr("CAST(status = 'retained' AS BIGINT)")).alias("retained"),
        F.sum(F.expr("CAST(status = 'resurrected' AS BIGINT)"))
        .alias("resurrected"),
    )
    # churned in week w = active in w-1 and not in w
    nxt = uw.selectExpr("user_id", "wk + 1 AS wk")
    churn = (
        nxt.join(uw.withColumn("is_now", F.lit(1)), ["user_id", "wk"], "left")
        .where("is_now IS NULL")
        .groupBy("wk").agg(F.count("*").alias("churned"))
    )
    return (
        act.join(churn, "wk", "left")
        .withColumn("churned", F.coalesce(F.col("churned"), F.lit(0)))
        .selectExpr(f"wk * {7 * DAY_MS} AS week_ms", "active", "new_users",
                    "retained", "resurrected", "churned")
    )


Q_GROWTH_ORACLE = f"""
WITH uw AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // {7 * DAY_MS} AS wk FROM events
), flagged AS (
  SELECT user_id, wk,
         CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk) IS NULL
              THEN 'new'
              WHEN wk - lag(wk) OVER (PARTITION BY user_id ORDER BY wk) = 1
              THEN 'retained' ELSE 'resurrected' END AS status
  FROM uw
), act AS (
  SELECT wk, COUNT(*) AS active,
         CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
           AS retained,
         CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
           AS BIGINT) AS resurrected
  FROM flagged GROUP BY 1
), churn AS (
  SELECT p.wk + 1 AS wk, COUNT(*) AS churned
  FROM uw p ANTI JOIN uw n ON n.user_id = p.user_id AND n.wk = p.wk + 1
  GROUP BY 1
)
SELECT a.wk * {7 * DAY_MS} AS week_ms, a.active, a.new_users, a.retained,
       a.resurrected, CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned
FROM act a LEFT JOIN churn c ON c.wk = a.wk
"""


SPECS += [
    QuerySpec("q_growth_accounting", q_growth_accounting, Q_GROWTH_ORACLE,
              "weekly new/retained/resurrected/churned growth accounting",
              ("behavior", "analytics", "growth")),
]


# --- temporal burstiness (Goh-Barabási B) ----------------------------------------
# The temporal twin of text_burstiness: per user, the burstiness
# parameter B = (σ - μ)/(σ + μ) of inter-event gaps — B→-1 periodic,
# B≈0 Poisson, B→1 bursty. μ and σ² come from exact integer gap sums
# (one lag + one rollup); σ is one IEEE sqrt of an exact integer and the
# final ratio is floored to ppm — identical operation order on both
# engines. Gaps in SECONDS (ms-squared sums overflow int64 over a 30-day span); users need >= 3 gaps.


def q_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_millis(ts) AS ts_ms", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = (
        ev.withColumn("gap", F.expr(
            "(ts_ms - lag(ts_ms) OVER (PARTITION BY user_id"
            " ORDER BY ts_ms, event_id)) div 1000"))
        .where("gap IS NOT NULL")
    )
    return (
        gaps.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("gap").alias("sg"),
             F.sum(F.expr("gap * gap")).alias("sgg"))
        .where("n >= 3")
        .selectExpr(
            "user_id", "n AS n_gaps", "sg div n AS mean_gap_s",
            """CAST(floor(
                 (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(n AS DOUBLE)
                  - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
               / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(n AS DOUBLE)
                  + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000) AS BIGINT) AS burstiness_ppm""",
        )
    )


Q_IE_BURSTINESS_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)) // 1000
           AS gap
  FROM events
), agg AS (
  SELECT user_id, COUNT(*) AS n, CAST(SUM(gap) AS BIGINT) AS sg,
         CAST(SUM(gap * gap) AS BIGINT) AS sgg
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 3
)
SELECT user_id, n AS n_gaps, sg // n AS mean_gap_s,
       CAST(floor(
         (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(n AS DOUBLE)
          - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
       / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(n AS DOUBLE)
          + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
       * 1000000) AS BIGINT) AS burstiness_ppm
FROM agg
"""


SPECS += [
    QuerySpec("q_interevent_burstiness", q_interevent_burstiness,
              Q_IE_BURSTINESS_ORACLE,
              "Goh-Barabási inter-event burstiness per user, ppm-exact",
              ("behavior", "stats", "timeseries")),
]
