"""Relational / aggregation corpus (TPC-H-style) over the driver tables.

The reference's aggregation surface is only sum/min/max/count reduces
(SURVEY.md §2.4) — Spark's DataFrame API gives the full relational algebra
for free, and these queries pin it down against a DuckDB oracle while
exercising the physical patterns that matter at 100 TB:

- scans with predicate pushdown + column pruning (q6 reads 4 of 11 cols),
- broadcast joins for dimension tables (region/nation/customer/supplier all
  broadcast under the 64 MB threshold; lineitem never shuffles for them),
- partial (map-side) aggregation before the shuffle in every groupBy,
- AQE choosing shuffle partition counts at runtime.

Float determinism: every SUM over doubles goes through DECIMAL so the
result is exact and order-independent — a Spark 32-partition sum and a
DuckDB single-thread sum land on the same bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import QuerySpec
from ..sources.tables import load_table, temp_view


def _dec(col: str, prec: int = 18, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


# --- Q1: pricing summary (scan + groupBy, no join) -------------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary with the per-row arithmetic in 64-bit integer
    hundredths (pure long codegen — no per-row Decimal128 multiplies):
    disc_price = price_c·(100−disc_c) ≤ 1e9, charge ≤ 1.1e11, both long.
    Accumulators widen to narrow decimals sized for 1e12-row groups, and
    ONE post-agg decimal division per column restores the oracle's scale
    exactly (same rational value → same correctly-rounded double).
    Neutral at bench scale (q1 is scan-bound: 6 columns read dominate),
    but removes all per-row Decimal128 work from the agg — the term that
    grows with executor-side CPU pressure at 100 TB. Bit-identical."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    cents = l.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "CAST(round(l_quantity * 100) AS BIGINT) AS qty_c",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_c",
        "CAST(round(l_tax * 100) AS BIGINT) AS tax_c",
    ).selectExpr(
        "l_returnflag",
        "l_linestatus",
        "qty_c",
        "price_c",
        "disc_c",
        "price_c * (100 - disc_c) AS dp",
        "price_c * (100 - disc_c) * (100 + tax_c) AS ch",
    )
    m = cents.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.expr("CAST(qty_c AS DECIMAL(18,0))")).alias("s_qty"),
        F.sum(F.expr("CAST(price_c AS DECIMAL(18,0))")).alias("s_price"),
        F.sum(F.expr("CAST(dp AS DECIMAL(28,0))")).alias("s_dp"),
        F.sum(F.expr("CAST(ch AS DECIMAL(28,0))")).alias("s_ch"),
        F.sum(F.expr("CAST(disc_c AS DECIMAL(18,0))")).alias("s_disc"),
        F.count("*").alias("count_order"),
    )
    return m.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "CAST(s_qty / 100 AS DOUBLE) AS sum_qty",
        "CAST(s_price / 100 AS DOUBLE) AS sum_base_price",
        "CAST(s_dp / 10000 AS DOUBLE) AS sum_disc_price",
        "CAST(s_ch / 1000000 AS DOUBLE) AS sum_charge",
        "CAST(s_qty / 100 AS DOUBLE) / count_order AS avg_qty",
        "CAST(s_price / 100 AS DOUBLE) / count_order AS avg_price",
        "CAST(s_disc / 100 AS DOUBLE) / count_order AS avg_disc",
        "count_order",
    ).select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc",
        "count_order",
    )


TPCH_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3: shipping priority (3-way join + top-k) ----------------------------

def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-01-01"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer is tiny (1.5k rows at sf0.01, ~15M at sf100) — explicit
        # broadcast so the fact table never shuffles for this dim.
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


TPCH_Q3_ORACLE = """
SELECT l_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5: local supplier volume (6-way join) --------------------------------

def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in
         ("region", "nation", "customer", "supplier", "orders", "lineitem")}
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


TPCH_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --- Q6: forecast revenue (pushdown showcase: 4 cols, tight filter) --------

def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    revenue = F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))
    return l.agg(revenue.cast("double").alias("revenue"), F.count("*").alias("n_items"))


TPCH_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
"""


# --- Q4 (adapted): late orders per priority (correlated-EXISTS semi join) ---
# Classic Q4 checks l_commitdate < l_receiptdate; the driver tables omit
# those columns, so the adapted predicate is "shipped after the order date"
# — same plan shape: a semi join whose condition mixes an equi key with a
# cross-table inequality.

def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


TPCH_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# --- Q12 (adapted): priority mix per returnflag (case-when aggregation) -----
# Classic Q12 groups by l_shipmode (absent here); l_returnflag plays the
# grouping role. The physical pattern is identical: fact-fact equi join,
# then conditional sums folded into one aggregation pass.

def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


TPCH_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


# --- Q14: promo revenue ratio (broadcast dim + conditional aggregate) -------

def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_revenue")
        )
    )


TPCH_Q14_ORACLE = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


# --- Q18: large-volume customers (agg-filter then join back) ----------------
# The HAVING-filtered aggregate runs FIRST and shrinks the fact side to a
# handful of orderkeys before any join — at 100 TB the two joins see only
# the filtered survivors, and AQE converts them to broadcasts at runtime.

def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_dec"))
        .where(F.col("sum_qty_dec") > 250)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


TPCH_Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_totalprice,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty_dec > 250
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- Q8: national market share ----------------------------------------------
# The one TPC-H query that joins NATION TWICE in different roles (customer
# nation restricts the market via region; supplier nation is the share
# dimension). Spark shape: the star fact path shuffles only on the fact
# keys; part/customer/nation/region all broadcast, and the two nation
# roles are two independent broadcast aliases — no self-join shuffle.

Q8_REGION = "ASIA"
Q8_NATION = "NATION_7"
Q8_TYPE = "PROMO"


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == Q8_TYPE)
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_n_nationkey"),
        F.col("n_regionkey").alias("c_n_regionkey"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_n_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == Q8_REGION)
    vol = _dec("l_extendedprice") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    nat_vol = F.when(F.col("supp_nation") == Q8_NATION, vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    joined = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_n_nationkey"))
        .join(F.broadcast(r), F.col("c_n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_n_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


TPCH_Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = '{Q8_NATION}'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                ELSE 0 END) AS DOUBLE)
     / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# --- Q21 (adapted): suppliers who kept orders waiting ------------------------
# Classic Q21's late-line predicate is l_receiptdate > l_commitdate; the
# driver schema carries neither, so "late" becomes shipped > 60 days after
# the order date — the JOIN TOPOLOGY (the hard part: fact x fact with a
# correlated EXISTS and NOT EXISTS on the same fact) is preserved exactly.
# All three lineitem legs hash on l_orderkey, so Catalyst reuses one
# Exchange for the self-joins; supplier/nation broadcast.

Q21_LATE_DAYS = 60
Q21_NATION = "NATION_7"
Q21_TOPN = 20


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 decorrelated Spark-first: the EXISTS ("another supplier on the
    order") and NOT EXISTS ("no OTHER late supplier") subqueries are
    per-order facts, so instead of two extra fact-fact joins (3 scans,
    3 orderkey shuffles) they become two collect_set window aggregates
    sharing ONE Window over l_orderkey — one scan, one shuffle. A late
    line waits iff its order has ≥2 distinct suppliers and exactly one
    distinct late supplier (necessarily itself). The oracle keeps the
    classic correlated form, proving the rewrite's equivalence."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lines = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        ).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    ann = lines.select(
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == Q21_NATION)
    waiting = (
        ann.where(F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPN)
    )


TPCH_Q21_ORACLE = f"""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{Q21_NATION}'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {Q21_TOPN}
"""


# --- Q19: bracketed OR-predicate revenue (broadcast join, disjunct filter) --
# Catalyst extracts the common l_partkey = p_partkey conjunct as the join
# key and leaves the OR-of-brackets as a post-join filter; part broadcasts
# so the disjunction never forces a shuffle or a nested-loop join.

def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(bracket)
        .agg(revenue.cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


TPCH_Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


# --- top-k users by total value (sort/limit over events) -------------------

def topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


TOPK_USERS_ORACLE = """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10
"""


# --- join-shape coverage: anti, outer, semi --------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_order_fill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + conditional agg: per order-priority, how many
    orders have at least one lineitem."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_outer")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("l_orderkey").alias("n_with_items"),
        )
    )


Q_OUTER_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders, COUNT(l_orderkey) AS n_with_items
FROM orders LEFT OUTER JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
  ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one 1-URGENT order —
    existence check without duplicating or widening the left side (the
    probe side never materializes order columns)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


# --- rollup / distinct aggregation -----------------------------------------

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): revenue subtotals at every level.
    Spark expands rollup into a single shuffle with grouping-id — no
    per-level rescans."""
    t = {n: load_table(spark, sf_dir, n) for n in ("region", "nation", "customer", "orders")}
    joined = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
             F.count("*").alias("n_orders"))
    )


Q_ROLLUP_ORACLE = """
SELECT r_name, n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping combinations in one
    shuffle (Spark expands cube with a grouping-id column, same single-
    pass plan shape as rollup). grouping_id disambiguates subtotal rows
    from natural NULL groups."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
    )


Q_CUBE_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders,
       GROUPING(o_orderpriority, o_orderstatus) AS gid
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("n_customers"),
             F.count("*").alias("n_orders"))
    )


Q_DISTINCT_ORACLE = """
SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# --- set operations (INTERSECT / EXCEPT) ------------------------------------
# The reference's only set op is U2's union; Spark's set-op surface is
# pinned here. Both plans are a single shuffle: Catalyst rewrites
# INTERSECT/EXCEPT to left-semi/left-anti over distinct inputs, with
# partial distinct before the exchange.

def q_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both clicked and purchased — INTERSECT of key sets."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("user_id")
    buys = e.where(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


Q_INTERSECT_ORACLE = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-value purchasers who never had a high-value error — EXCEPT
    (set minus; ``subtract`` is Spark's EXCEPT DISTINCT)."""
    e = load_table(spark, sf_dir, "events")
    buys = e.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 300)
    ).select("user_id")
    errs = e.where(
        (F.col("event_type") == "error") & (F.col("value") > 300)
    ).select("user_id")
    return buys.subtract(errs)


Q_EXCEPT_ORACLE = """
SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 300
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 300
"""


# --- semi-structured: JSON property extraction ------------------------------
# events.props is a JSON string column ({"k": <0..99>}) — the landing shape
# of most real event pipelines. Extraction stays JVM-side
# (get_json_object, codegen'd), never a Python UDF; the grouped rollup
# shuffles only (k, partial aggregates).

def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


JSON_PROPS_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


def json_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via the VARIANT type (Spark 4): parse the
    JSON once into a binary VARIANT value, then do typed extractions from
    the parsed form. At scale this beats per-path ``get_json_object``
    (which re-parses the string for every path) and is the idiomatic
    engine answer for schema-on-read property bags; ``try_variant_get``
    gives null-safe access to absent paths."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    typed = e.select(
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("m"),
    )
    return (
        typed.groupBy(F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.count("m").alias("n_missing_path"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_VARIANT_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
       COUNT(*) AS cnt,
       COUNT(CAST(json_extract_string(props, '$.missing') AS BIGINT)) AS n_missing_path,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
"""


# --- analytic window functions ---------------------------------------------

def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number ranking per partition — the analytic-window surface the
    reference hand-builds with ValueState (SURVEY.md §2.5 note)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


Q_TOPORDER_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# --- lag/lead analytics ------------------------------------------------------

def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days since the customer's previous order (lag) and until the next
    one (lead) — the analytic surface the reference hand-builds with
    ValueState, on order history instead of streams."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day_ms = 86_400_000
    ts = F.unix_millis("o_orderdate")
    return o.select(
        "o_custkey",
        "o_orderkey",
        ((ts - F.lag(ts).over(w)) / day_ms).cast("double").alias("days_since_prev"),
        ((F.lead(ts).over(w) - ts) / day_ms).cast("double").alias("days_until_next"),
    )


Q_ORDER_GAPS_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST((epoch_ms(o_orderdate) - lag(epoch_ms(o_orderdate))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) / 86400000.0 AS DOUBLE)
         AS days_since_prev,
       CAST((lead(epoch_ms(o_orderdate))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - epoch_ms(o_orderdate)) / 86400000.0 AS DOUBLE)
         AS days_until_next
FROM orders
"""


# --- unpivot / melt ----------------------------------------------------------

def q_part_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of part numeric attributes (Spark ``unpivot`` =
    UNPIVOT/stack; a projection-only narrow op, no shuffle)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "metric_value")


Q_PART_UNPIVOT_ORACLE = """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS metric_value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
"""


# --- correlated scalar subquery through the SQL entry path -------------------

def q_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with balance above their nation's average — written as
    SQL with a correlated scalar subquery to exercise the spark.sql()
    entry path and Catalyst's decorrelation (it rewrites the subquery into
    one aggregate + join, not a per-row loop)."""
    # avg comparison via exact decimal cross-multiplication
    # (bal > sum/cnt  ≡  bal*cnt > sum) — float avg would put boundary
    # rows at the mercy of summation order.
    with temp_view(load_table(spark, sf_dir, "customer"), "customer_v") as view:
        return spark.sql(
            f"""
            SELECT c_custkey, c_name, c_acctbal
            FROM {view} c
            WHERE CAST(c_acctbal AS DECIMAL(18,2))
                  * (SELECT COUNT(*) FROM {view} c2
                     WHERE c2.c_nationkey = c.c_nationkey)
                  > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                     FROM {view} c2 WHERE c2.c_nationkey = c.c_nationkey)
            """
        )


Q_ABOVE_AVG_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
         FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
"""


SPECS = [
    QuerySpec("tpch_q1_pricing_summary", tpch_q1, TPCH_Q1_ORACLE,
              "scan+groupBy aggregate, decimal-exact sums", ("relational",)),
    QuerySpec("tpch_q3_shipping_priority", tpch_q3, TPCH_Q3_ORACLE,
              "3-way join + top-k, broadcast customer dim", ("relational", "join")),
    QuerySpec("tpch_q5_local_supplier", tpch_q5, TPCH_Q5_ORACLE,
              "6-way join, all dims broadcast", ("relational", "join")),
    QuerySpec("tpch_q6_forecast_revenue", tpch_q6, TPCH_Q6_ORACLE,
              "pushdown showcase: tight filter, 4 columns read", ("relational",)),
    QuerySpec("tpch_q4_late_orders", tpch_q4, TPCH_Q4_ORACLE,
              "correlated-EXISTS semi join with cross-table inequality",
              ("relational", "join")),
    QuerySpec("tpch_q12_priority_mix", tpch_q12, TPCH_Q12_ORACLE,
              "fact-fact join + case-when conditional sums", ("relational", "join")),
    QuerySpec("tpch_q14_promo_revenue", tpch_q14, TPCH_Q14_ORACLE,
              "broadcast dim + conditional-aggregate ratio", ("relational", "join")),
    QuerySpec("tpch_q8_market_share", tpch_q8, TPCH_Q8_ORACLE,
              "Q8 national market share: nation joined twice in different "
              "roles, all dims broadcast, decimal-exact ratio",
              ("relational", "tpch", "join")),
    QuerySpec("tpch_q21_waiting_supplier", tpch_q21, TPCH_Q21_ORACLE,
              "Q21 join topology: correlated EXISTS + NOT EXISTS on the "
              "same fact as semi/anti joins sharing one orderkey exchange",
              ("relational", "tpch", "join")),
    QuerySpec("tpch_q18_large_volume", tpch_q18, TPCH_Q18_ORACLE,
              "HAVING-filtered aggregate joined back to orders/customer",
              ("relational", "join")),
    QuerySpec("tpch_q19_bracket_revenue", tpch_q19, TPCH_Q19_ORACLE,
              "OR-of-brackets predicate over broadcast part join",
              ("relational", "join")),
    QuerySpec("topk_users_by_value", topk_users, TOPK_USERS_ORACLE,
              "groupBy + sort/limit over events", ("relational",)),
    QuerySpec("q_customers_without_orders", q_customers_without_orders, Q_ANTI_ORACLE,
              "left-anti join", ("relational", "join")),
    QuerySpec("q_order_fill_rates", q_order_fill_rates, Q_OUTER_ORACLE,
              "left-outer join + conditional agg", ("relational", "join")),
    QuerySpec("q_revenue_rollup", q_revenue_rollup, Q_ROLLUP_ORACLE,
              "ROLLUP subtotals, single-shuffle grouping sets", ("relational",)),
    QuerySpec("q_customers_with_urgent_orders", q_customers_with_urgent_orders,
              Q_SEMI_ORACLE, "left-semi existence join", ("relational", "join")),
    QuerySpec("q_order_cube", q_order_cube, Q_CUBE_ORACLE,
              "CUBE with grouping_id, single-pass grouping sets", ("relational",)),
    QuerySpec("q_distinct_customers", q_distinct_customers, Q_DISTINCT_ORACLE,
              "distinct-count aggregation", ("relational",)),
    QuerySpec("q_top_order_per_customer", q_top_order_per_customer, Q_TOPORDER_ORACLE,
              "row_number analytic ranking", ("relational", "window")),
    QuerySpec("q_users_intersect", q_users_intersect, Q_INTERSECT_ORACLE,
              "INTERSECT of key sets (semi-join rewrite)", ("relational", "setop")),
    QuerySpec("q_users_except", q_users_except, Q_EXCEPT_ORACLE,
              "EXCEPT / set minus (anti-join rewrite)", ("relational", "setop")),
    QuerySpec("json_props_rollup", json_props_rollup, JSON_PROPS_ORACLE,
              "JSON property extraction + grouped aggregate, JVM-side",
              ("relational", "semistructured")),
    QuerySpec("json_variant_rollup", json_variant_rollup, JSON_VARIANT_ORACLE,
              "VARIANT-typed parse-once property bag with typed/null-safe "
              "path extraction (Spark 4)",
              ("relational", "semistructured", "spark4")),
    QuerySpec("q_order_gaps", q_order_gaps, Q_ORDER_GAPS_ORACLE,
              "lag/lead inter-order gaps per customer", ("relational", "window")),
    QuerySpec("q_part_unpivot", q_part_unpivot, Q_PART_UNPIVOT_ORACLE,
              "wide→long unpivot/melt", ("relational",)),
    QuerySpec("q_above_nation_avg", q_above_nation_avg, Q_ABOVE_AVG_ORACLE,
              "correlated scalar subquery via spark.sql, decorrelated",
              ("relational", "sql")),
]


# --- share-of-total (ratio_to_report) ---------------------------------------
# Per-nation revenue share of the global total. Aggregate FIRST (fact
# shuffles once on custkey), then the share is a window-sum over the ~25
# aggregated rows — the global window costs nothing because it runs on
# dim-cardinality data, never on the fact table. Shares are one rounded
# division of exact decimal sums.

def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey", "CAST(o_totalprice AS DECIMAL(18,2)) AS price"
    )
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("price").alias("revenue"))
    )
    from pyspark.sql import Window as W

    total = W.partitionBy()
    return per_nation.select(
        "n_name",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / F.sum("revenue").over(total).cast("double"),
            6,
        ).alias("share"),
    )


Q_REVENUE_SHARE_ORACLE = """
WITH per_nation AS (
  SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name,
       CAST(revenue AS DOUBLE) AS revenue,
       round(CAST(revenue AS DOUBLE) / CAST(SUM(revenue) OVER () AS DOUBLE), 6) AS share
FROM per_nation
"""


SPECS += [
    QuerySpec("q_revenue_share", q_revenue_share, Q_REVENUE_SHARE_ORACLE,
              "ratio-to-report: per-nation revenue share, window over aggregated dims",
              ("relational", "window")),
]


# --- NULL semantics: null-safe join + NULL group keys ------------------------
# Three-valued-logic parity pin: a nullable derived key (nullif) is
# grouped (NULLs form ONE group in both engines) and dimension-joined
# with NULL-SAFE equality (Spark `<=>` ≡ DuckDB IS NOT DISTINCT FROM) so
# rows with missing keys survive the join instead of silently dropping —
# the classic fact-vs-dim footgun. COUNT(col) vs COUNT(*) divergence on
# NULLs is pinned in the same pass.

def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = load_table(spark, sf_dir, "orders").selectExpr(
        "nullif(o_custkey % 7, 0) AS k",
        "nullif(o_orderkey % 5, 0) AS v",
    )
    dim = (
        facts.select("k").distinct()
        .selectExpr("k AS dk", "coalesce(CAST(k AS STRING), 'missing') AS label")
    )
    return (
        facts.join(F.broadcast(dim), F.expr("k <=> dk"), "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("v").alias("n_nonnull_v"),
            F.sum(F.expr("CASE WHEN v IS NULL THEN 1 ELSE 0 END")).alias("n_null_v"),
        )
    )


Q_NULLSAFE_ORACLE = """
WITH facts AS (
  SELECT nullif(o_custkey % 7, 0) AS k, nullif(o_orderkey % 5, 0) AS v
  FROM orders
), dim AS (
  SELECT k AS dk, coalesce(CAST(k AS VARCHAR), 'missing') AS label
  FROM (SELECT DISTINCT k FROM facts)
)
SELECT label, COUNT(*) AS n_rows, COUNT(v) AS n_nonnull_v,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_v
FROM facts LEFT JOIN dim ON k IS NOT DISTINCT FROM dk
GROUP BY label
"""


SPECS += [
    QuerySpec("q_nullsafe_join", q_nullsafe_join, Q_NULLSAFE_ORACLE,
              "null-safe dim join + NULL group keys + COUNT(col) semantics",
              ("relational", "join", "nulls")),
]


# --- SQL-defined functions (scalar UDF + table function) --------------------
# Spark 4's catalog-level SQL functions (CREATE FUNCTION ... RETURN):
# reusable business logic that lives in the catalog, fully visible to
# Catalyst (the body INLINES into the plan — zero UDF overhead, unlike
# Python/Java UDFs). One scalar function (exact net-revenue units) and
# one parameterized TABLE function (size-filtered parts) compose into a
# join+agg; the oracle inlines both bodies by hand, so the hash match
# proves the inlining is semantics-preserving.

SQLFN_MIN_SIZE = 25


def q_sql_udf_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_units(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(round(p * 100) AS BIGINT) * (100 - CAST(round(d * 100) AS BIGINT))"
    )
    with temp_view(load_table(spark, sf_dir, "part"), "_sqlfn_part") as part, \
            temp_view(load_table(spark, sf_dir, "lineitem"), "_sqlfn_lineitem") as li:
        # the table function's body names this call's part view, so it is
        # (re)defined per call and resolved by the eager analysis below
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION sized_parts(n INT) "
            "RETURNS TABLE(p_partkey BIGINT, p_size INT) "
            f"RETURN SELECT p_partkey, p_size FROM {part} WHERE p_size >= n"
        )
        return spark.sql(
            f"""
            SELECT p.p_size,
                   COUNT(*) AS n_items,
                   CAST(SUM(CAST(net_units(l.l_extendedprice, l.l_discount)
                                 AS DECIMAL(28,0))) AS BIGINT) AS net_units_total
            FROM {li} l
            JOIN sized_parts({SQLFN_MIN_SIZE}) p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_size
            """
        )


Q_SQL_UDF_TVF_ORACLE = f"""
SELECT p.p_size, COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS HUGEINT))
            AS BIGINT) AS net_units_total
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size >= {SQLFN_MIN_SIZE}
GROUP BY p.p_size
"""


SPECS += [
    QuerySpec("q_sql_udf_tvf", q_sql_udf_tvf, Q_SQL_UDF_TVF_ORACLE,
              "catalog SQL scalar UDF + parameterized SQL table function, inlined by Catalyst",
              ("relational", "spark4", "udf")),
]


# --- Arrow-batched grouped-aggregate UDAF ------------------------------------
# The last leg of the Spark user-function triad (scalar SQL UDF + SQL TVF
# above, the gap-sessionize Python UDTF in functions/udtfs.py): a
# pandas_udf GROUPED_AGG — the Arrow-batched custom aggregate. Built-ins
# stay the house rule (every other median here rides the exact sharded-
# quantile machinery, JVM-side); this query exists to PIN the UDAF
# engine contract: whole-group Series in, scalar out, Arrow transfer,
# mixable with built-in aggregates in one agg(). Values are doubled
# cents so the even-count median interpolation (x.5) stays an exact
# integer on both engines — np.median's float64 is exact below 2^53.

def q_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd  # noqa: F401  (pandas_udf signature)

    # Explicit functionType: the module's `from __future__ import
    # annotations` stringizes type hints, which pandas_udf can't infer
    # from. All three aggregates are pandas UDAFs — Spark disallows mixing
    # GROUPED_AGG with JVM aggregates in one agg() (INVALID_PANDAS_UDF_
    # PLACEMENT), itself part of the contract this query pins.
    @F.pandas_udf("long", F.PandasUDFType.GROUPED_AGG)
    def median2(v):
        return int(np.median(v))

    @F.pandas_udf("long", F.PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    @F.pandas_udf("long", F.PandasUDFType.GROUPED_AGG)
    def min_v(v):
        return int(v.min())

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "2 * CAST(round(value * 100) AS BIGINT) AS cents2"
    )
    return ev.groupBy("event_type").agg(
        n_rows("cents2").alias("n"),
        median2("cents2").alias("median_2cents"),
        min_v("cents2").alias("min_2cents"),
    )


Q_PANDAS_UDAF_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(median(cents2) AS BIGINT) AS median_2cents,
       MIN(cents2) AS min_2cents
FROM (SELECT event_type, 2 * CAST(round(value * 100) AS BIGINT) AS cents2
      FROM events)
GROUP BY event_type
"""


SPECS += [
    QuerySpec("q_pandas_udaf_median", q_pandas_udaf_median, Q_PANDAS_UDAF_ORACLE,
              "Arrow GROUPED_AGG pandas UDAF mixed with built-in aggregates",
              ("relational", "udf", "arrow")),
]


# --- Spark 4 SQL-language surfaces: scripting, parameters, GROUP BY ALL ------
# Two pins for the SQL-language features a reference user migrating real
# workbooks hits first:
# - q_parameterized_sql: spark.sql(query, args={...}) named parameters
#   (injection-safe literals, the JDBC-prepared-statement analog) plus
#   GROUP BY ALL resolution.
# - q_sql_scripting: BEGIN/DECLARE/WHILE/SET procedural scripting
#   (SQL/PSM, Spark 4.0+) — a loop of scalar-subquery accumulations whose
#   final value the oracle reproduces in one set-based statement, proving
#   the script's control flow equals the declarative form.

def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    with temp_view(load_table(spark, sf_dir, "orders"), "orders_psql") as view:
        return spark.sql(
            f"""
            SELECT o_orderstatus, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS revenue_cents
            FROM {view}
            WHERE o_orderdate >= :cutoff AND o_orderpriority LIKE :prio
            GROUP BY ALL
            """,
            args={"cutoff": "1997-01-01", "prio": "1-%"},
        )


Q_PARAMETERIZED_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderpriority LIKE '1-%'
GROUP BY o_orderstatus
"""


def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    with temp_view(load_table(spark, sf_dir, "orders"), "orders_script") as view:
        result = spark.sql(f"""
        BEGIN
          DECLARE total BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 1;
          WHILE i <= 5 DO
            SET total = total + (
              SELECT coalesce(
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT), 0)
              FROM {view} WHERE o_orderpriority LIKE i || '-%');
            SET i = i + 1;
          END WHILE;
          SELECT 5 AS n_iterations, total AS revenue_cents;
        END
        """)
        # the script has already executed its loop; pin the one-row result so
        # dropping the temp view can't invalidate a lazy re-read
        rows = result.collect()
    return spark.createDataFrame(rows, result.schema)


Q_SQL_SCRIPTING_ORACLE = """
SELECT 5 AS n_iterations,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
"""


SPECS += [
    QuerySpec("q_parameterized_sql", q_parameterized_sql, Q_PARAMETERIZED_ORACLE,
              "named-parameter spark.sql(args=...) + GROUP BY ALL",
              ("relational", "spark4", "sql-surface")),
    QuerySpec("q_sql_scripting", q_sql_scripting, Q_SQL_SCRIPTING_ORACLE,
              "SQL/PSM scripting: DECLARE/WHILE/SET loop equals set-based oracle",
              ("relational", "spark4", "sql-surface")),
]


# --- ANSI-safe error handling: the try_* function family ---------------------
# Spark's answer to "one bad row kills the 100 TB job": try_cast /
# try_divide / try_element_at return NULL where the strict forms raise.
# The fixture is real-world dirty input derived from o_orderpriority
# ('1-URGENT' -> numeric prefix parses, text tail doesn't). The oracle
# mirrors each try_* with its portable CASE/TRY_CAST guard, pinning the
# exact null-propagation semantics (count of salvaged vs nulled rows).

def q_try_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "split(o_orderpriority, '-')[0] AS num_part",
        "split(o_orderpriority, '-')[1] AS text_part",
        "o_totalprice",
    )
    parsed = o.selectExpr(
        "try_cast(num_part AS BIGINT) AS prio_num",       # parses
        "try_cast(text_part AS BIGINT) AS text_num",      # NULL, no error
        "try_divide(o_totalprice, try_cast(num_part AS BIGINT) - 1)"
        " AS per_level",                                  # NULL at prio 1
        "try_element_at(split(o_orderpriority, '-'), 3) AS missing_piece",
    )
    return parsed.agg(
        F.count("*").alias("n_rows"),
        F.count("prio_num").alias("n_prio_parsed"),
        F.count("text_num").alias("n_text_parsed"),
        F.count("per_level").alias("n_divisible"),
        F.count("missing_piece").alias("n_third_piece"),
        F.sum("prio_num").cast("long").alias("prio_sum"),
    )


Q_TRY_SEMANTICS_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         string_split(o_orderpriority, '-')[1] AS num_part,
         string_split(o_orderpriority, '-')[2] AS text_part,
         o_totalprice
  FROM orders
), parsed AS (
  SELECT TRY_CAST(num_part AS BIGINT) AS prio_num,
         TRY_CAST(text_part AS BIGINT) AS text_num,
         CASE WHEN TRY_CAST(num_part AS BIGINT) - 1 = 0 THEN NULL
              ELSE o_totalprice / (TRY_CAST(num_part AS BIGINT) - 1)
         END AS per_level,
         string_split(o_orderpriority, '-')[3] AS missing_piece
  FROM o
)
SELECT COUNT(*) AS n_rows,
       COUNT(prio_num) AS n_prio_parsed,
       COUNT(text_num) AS n_text_parsed,
       COUNT(per_level) AS n_divisible,
       COUNT(missing_piece) AS n_third_piece,
       CAST(SUM(prio_num) AS BIGINT) AS prio_sum
FROM parsed
"""


SPECS += [
    QuerySpec("q_try_semantics", q_try_semantics, Q_TRY_SEMANTICS_ORACLE,
              "try_cast/try_divide/try_element_at null-on-error semantics",
              ("relational", "ansi", "quality")),
]


# --- rank-function semantics pin ---------------------------------------------
# One query exercising the full ANSI rank-function family with TIES:
# ordering on a banded price (low cardinality) makes rank vs dense_rank
# vs percent_rank/cume_dist diverge, while row_number/ntile run over a
# fully deterministic (band, orderkey) order so their outputs are
# well-defined. percent_rank/cume_dist are emitted as the raw doubles —
# (rank-1)/(n-1) and n_le/n are single correctly-rounded divisions of
# exact integers, identical bits on both engines. One month of orders
# keeps the pinned surface reviewable.

def q_rank_functions_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-02-01"))
    ).selectExpr(
        "o_orderkey", "o_orderpriority",
        "CAST(round(o_totalprice) AS BIGINT) div 10000 AS band",
    )
    wt = Window.partitionBy("o_orderpriority").orderBy("band")
    wd = Window.partitionBy("o_orderpriority").orderBy("band", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "band",
        F.rank().over(wt).alias("rk"),
        F.dense_rank().over(wt).alias("drk"),
        F.percent_rank().over(wt).alias("prk"),
        F.cume_dist().over(wt).alias("cd"),
        F.row_number().over(wd).alias("rn"),
        F.ntile(4).over(wd).alias("nt"),
    )


Q_RANK_FUNCTIONS_ORACLE = """
SELECT o_orderkey, o_orderpriority, band,
       rank() OVER wt AS rk,
       dense_rank() OVER wt AS drk,
       percent_rank() OVER wt AS prk,
       cume_dist() OVER wt AS cd,
       row_number() OVER wd AS rn,
       ntile(4) OVER wd AS nt
FROM (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice) AS BIGINT) // 10000 AS band
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-02-01'
)
WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY band),
       wd AS (PARTITION BY o_orderpriority ORDER BY band, o_orderkey)
"""


SPECS += [
    QuerySpec("q_rank_functions_pin", q_rank_functions_pin,
              Q_RANK_FUNCTIONS_ORACLE,
              "ANSI rank-family semantics with ties: rank/dense/percent/cume/ntile",
              ("relational", "ansi", "window")),
]


# --- join-type matrix pin ----------------------------------------------------
# All six join cardinalities (inner/left/right/full/semi/anti on
# customer x orders) derived from ONE full-outer pass — the engine-parity
# pin is that Spark's single-shuffle derivation equals the six-join
# ground truth the oracle computes literally. At 100 TB this is also the
# efficient diagnostic shape: one co-partitioned join instead of six.

def q_join_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    fo = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return fo.agg(
        F.sum((F.col("c_custkey").isNotNull()
               & F.col("o_orderkey").isNotNull()).cast("long")).alias("n_inner"),
        F.sum((F.col("c_custkey").isNotNull()).cast("long")
              ).alias("n_left"),
        F.sum((F.col("o_orderkey").isNotNull()).cast("long")
              ).alias("n_right"),
        F.count("*").alias("n_full"),
        F.countDistinct(
            F.when(F.col("o_orderkey").isNotNull(), F.col("c_custkey"))
        ).alias("n_semi"),
        F.sum((F.col("c_custkey").isNotNull()
               & F.col("o_orderkey").isNull()).cast("long")).alias("n_anti"),
    )


Q_JOIN_TYPE_MATRIX_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM customer JOIN orders ON c_custkey = o_custkey)
    AS n_inner,
  (SELECT COUNT(*) FROM customer LEFT JOIN orders ON c_custkey = o_custkey)
    AS n_left,
  (SELECT COUNT(*) FROM customer RIGHT JOIN orders ON c_custkey = o_custkey)
    AS n_right,
  (SELECT COUNT(*) FROM customer FULL JOIN orders ON c_custkey = o_custkey)
    AS n_full,
  (SELECT COUNT(*) FROM customer WHERE EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_semi,
  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_anti
"""


SPECS += [
    QuerySpec("q_join_type_matrix", q_join_type_matrix,
              Q_JOIN_TYPE_MATRIX_ORACLE,
              "six join cardinalities from one full-outer pass vs six-join truth",
              ("relational", "join")),
]


# --- Spark 4 SQL pipe syntax ---------------------------------------------------
# The |> operator-pipe surface (SQL:2023-style composable queries, Spark
# 4.0+): the same logical plan as the plain GROUP BY the oracle runs —
# pipe syntax is pure sugar over Catalyst, so pushdown/pruning/codegen
# are identical — pinned here so a user migrating pipelined SQL keeps a
# verified surface. Cents arithmetic keeps the aggregate integer-exact.

def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    with temp_view(load_table(spark, sf_dir, "orders"), "orders_pipe") as view:
        return spark.sql(f"""
        FROM {view}
        |> WHERE o_orderstatus <> 'F'
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(cents) AS BIGINT) AS revenue_cents
           GROUP BY o_orderpriority
        |> WHERE n_orders > 0
        |> SELECT o_orderpriority, n_orders, revenue_cents
        """)


Q_PIPE_SYNTAX_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 0
"""


SPECS += [
    QuerySpec("q_pipe_syntax", q_pipe_syntax, Q_PIPE_SYNTAX_ORACLE,
              "SQL operator-pipe (|>) surface over the verified aggregate",
              ("relational", "spark4", "sql-surface")),
]


# --- Spark 4 listagg (ordered string aggregation) ------------------------------
# The SQL:2016 LISTAGG ... WITHIN GROUP surface (Spark 4.0+): ordered,
# deterministic string concatenation per group — the report-building
# aggregate users otherwise hand-roll with array_sort(collect_list()).
# Determinism note: WITHIN GROUP (ORDER BY ts_day, event_type) makes the
# result layout-independent, which is exactly what the oracle's
# string_agg ... ORDER BY pins.

def q_listagg_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id % 50 AS cohort",
        "CAST(unix_millis(ts) div 86400000 AS BIGINT) AS d",
        "event_type")
    days = ev.groupBy("cohort", "d").agg(
        F.countDistinct("event_type").alias("n_types"))
    with temp_view(days, "cohort_days_la") as view:
        return spark.sql(f"""
        SELECT cohort,
               COUNT(*) AS n_days,
               listagg(CAST(n_types AS STRING), '>')
                 WITHIN GROUP (ORDER BY d) AS type_timeline
        FROM {view}
        GROUP BY cohort
    """)


Q_LISTAGG_ORACLE = """
WITH days AS (
  SELECT user_id % 50 AS cohort,
         CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d,
         COUNT(DISTINCT event_type) AS n_types
  FROM events GROUP BY 1, 2
)
SELECT cohort, COUNT(*) AS n_days,
       string_agg(CAST(n_types AS VARCHAR), '>' ORDER BY d) AS type_timeline
FROM days GROUP BY cohort
"""


SPECS += [
    QuerySpec("q_listagg_timeline", q_listagg_timeline, Q_LISTAGG_ORACLE,
              "LISTAGG WITHIN GROUP ordered string agg (per-cohort timeline)",
              ("relational", "spark4", "sql-surface")),
]


# --- NULL three-valued-logic semantics pin ------------------------------------
# The parity corner engines disagree on most often, pinned as one
# integer row: = vs null-safe equality (Spark <=> ≡ DuckDB IS NOT
# DISTINCT FROM), NULL's own GROUP BY / DISTINCT group, the NOT IN
# (..., NULL) trap (never true under 3VL), and COUNT vs COUNT(col).
# Inputs derive NULLs deterministically from orders (every 10th key).

def q_null_semantics_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "orders").selectExpr(
        "CASE WHEN o_orderkey % 10 = 0 THEN NULL"
        " ELSE o_orderkey % 5 END AS v")
    return v.agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.sum(F.expr("CAST(v = v AS BIGINT)")).alias("eq_self_true"),
        F.sum(F.expr("CAST(v <=> v AS BIGINT)")).alias("nullsafe_self_true"),
        F.countDistinct("v").alias("n_distinct_nonnull"),
        F.expr("CAST(COUNT(DISTINCT v) + MAX(CAST(v IS NULL AS INT))"
               " AS BIGINT)").alias("n_groups_with_null"),
        F.sum(F.expr("CAST(v NOT IN (1, NULL) AS BIGINT)"))
        .alias("not_in_null_trap"),
        F.sum(F.expr("CAST(coalesce(v, -1) AS BIGINT)")).alias("coalesce_sum"),
    )


Q_NULL_SEMANTICS_ORACLE = """
WITH vals AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
         ELSE o_orderkey % 5 END AS v
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       COUNT(v) AS n_nonnull,
       CAST(COALESCE(SUM(CAST(v = v AS BIGINT)), 0) AS BIGINT)
         AS eq_self_true,
       CAST(SUM(CAST(v IS NOT DISTINCT FROM v AS BIGINT)) AS BIGINT)
         AS nullsafe_self_true,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct_nonnull,
       CAST(COUNT(DISTINCT v) + MAX(CAST(v IS NULL AS INT)) AS BIGINT)
         AS n_groups_with_null,
       CAST(COALESCE(SUM(CAST(v NOT IN (1, NULL) AS BIGINT)), 0) AS BIGINT)
         AS not_in_null_trap,
       CAST(SUM(COALESCE(v, -1)) AS BIGINT) AS coalesce_sum
FROM vals
"""


SPECS += [
    QuerySpec("q_null_semantics_pin", q_null_semantics_pin,
              Q_NULL_SEMANTICS_ORACLE,
              "3VL parity matrix: null-safe eq, NULL groups, NOT IN trap",
              ("relational", "semantics-pin")),
]


# --- datetime & float->int conversion semantics pin ---------------------------
# Documents-by-assertion the cross-engine conventions every other oracle
# in this repo silently relies on:
# - day-of-week numbering differs (Spark dayofweek: Sunday=1; DuckDB
#   dayofweek: Sunday=0) — the PORTABLE form is ISO dow, spelled
#   weekday(ts)+1 in Spark and isodow(ts) in DuckDB;
# - week-of-year is ISO on both (weekofyear ≡ week);
# - round() is half-away-from-zero on both;
# - CAST(double AS BIGINT) DIVERGES (Spark truncates toward zero, DuckDB
#   rounds) — the portable form pins Spark CAST against DuckDB trunc().
# All outputs are integer sums over events, so any convention drift
# breaks the hash loudly.

def q_datetime_semantics_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(weekday(ts) + 1 AS BIGINT)")).alias("sum_iso_dow"),
        F.sum(F.expr("CAST(weekofyear(ts) AS BIGINT)")).alias("sum_iso_week"),
        F.sum(F.expr("CAST(day(ts) AS BIGINT)")).alias("sum_dom"),
        F.sum(F.expr("CAST(hour(ts) AS BIGINT)")).alias("sum_hour"),
        F.sum(F.expr("CAST(round(value) AS BIGINT)")).alias("sum_round0"),
        F.sum(F.expr("CAST(floor(value) AS BIGINT)")).alias("sum_floor"),
        F.sum(F.expr("CAST(ceil(value) AS BIGINT)")).alias("sum_ceil"),
        # Spark CAST truncates; DuckDB CAST rounds -> oracle uses trunc()
        F.sum(F.expr("CAST(value AS BIGINT)")).alias("sum_trunc"),
    )


Q_DATETIME_SEMANTICS_ORACLE = """
SELECT COUNT(*) AS n_events,
       CAST(SUM(isodow(ts)) AS BIGINT) AS sum_iso_dow,
       CAST(SUM(week(ts)) AS BIGINT) AS sum_iso_week,
       CAST(SUM(day(ts)) AS BIGINT) AS sum_dom,
       CAST(SUM(hour(ts)) AS BIGINT) AS sum_hour,
       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS sum_round0,
       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor,
       CAST(SUM(CAST(ceil(value) AS BIGINT)) AS BIGINT) AS sum_ceil,
       CAST(SUM(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS sum_trunc
FROM events
"""


SPECS += [
    QuerySpec("q_datetime_semantics_pin", q_datetime_semantics_pin,
              Q_DATETIME_SEMANTICS_ORACLE,
              "ISO dow/week + rounding + the CAST-truncates-vs-rounds pin",
              ("relational", "semantics-pin", "temporal")),
]


# --- recursive CTE hierarchy walk (Spark 4 SQL surface) ------------------------
# WITH RECURSIVE landed in Spark 4 — the declarative form of the
# iterative-join loops this repo hand-rolls for PageRank/k-core/label
# propagation. Exercised here as the classic hierarchy walk: customers
# form a synthetic referral forest (parent = c_custkey div 10; root is
# custkey 0), and the recursion carries each customer's depth and
# path-accumulated balance in exact cents to its root. Per-level
# fan-out is 1 (a tree walk), so the recursion is depth-bounded at
# ~log10(max key) with NO row explosion; both engines run the SAME
# recursive SQL and hash-match. 100 TB note: each recursion step is a
# self-equi-join on the parent key — the same shuffle shape as the
# hand-rolled iterative operators, but planned by the engine.

RECUR_MAX_DEPTH = 12  # log10 bound with slack; a cycle would hit this


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The CTE's TOTAL output is |customer| x avg depth — it grows
    # linearly with the data, so the engine's absolute row-count
    # circuit breaker (spark.sql.cteRecursionRowLimit, default 1M)
    # would fail any real corpus (first seen at the synthesized sf1:
    # 150k customers x ~7 levels > 1M). Termination is already
    # guaranteed by the depth guard in the recursion (RECUR_MAX_DEPTH,
    # backed by the engine's cteRecursionLevelLimit default 100), which
    # bounds work per ROW, the dimension that matters. Lift the global
    # row counter ONLY for this query's execution: the session is
    # shared with ~8 other recursive-CTE queries whose circuit breaker
    # must stay armed, so the prior value is restored after the eager
    # localCheckpoint materializes the recursion.
    prior_limit = spark.conf.get("spark.sql.cteRecursionRowLimit")
    spark.conf.set("spark.sql.cteRecursionRowLimit", "-1")
    try:
        with temp_view(load_table(spark, sf_dir, "customer"), "cust_rec") as view:
            result = spark.sql(f"""
WITH RECURSIVE walk(custkey, anc, depth, path_cents) AS (
  SELECT c_custkey, c_custkey div 10, 0,
         CAST(round(c_acctbal * 100) AS BIGINT)
  FROM {view}
  UNION ALL
  SELECT w.custkey, p.c_custkey div 10, w.depth + 1,
         w.path_cents + CAST(round(p.c_acctbal * 100) AS BIGINT)
  FROM walk w JOIN {view} p ON p.c_custkey = w.anc
  WHERE w.anc <> w.custkey AND w.depth < {RECUR_MAX_DEPTH}
)
SELECT custkey AS c_custkey, MAX(depth) AS depth,
       MAX_BY(anc, depth) AS root_key,
       MAX_BY(path_cents, depth) AS path_cents
FROM walk GROUP BY custkey
""")
            # localCheckpoint returns a NEW DataFrame backed by the
            # materialized blocks — return THAT one, so downstream
            # consumers never re-run the recursion under the restored
            # (re-armed) row limit.
            result = result.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", prior_limit)
    return result


Q_RECURSIVE_HIERARCHY_ORACLE = f"""
WITH RECURSIVE walk(custkey, anc, depth, path_cents) AS (
  SELECT c_custkey, c_custkey // 10, 0,
         CAST(round(c_acctbal * 100) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT w.custkey, p.c_custkey // 10, w.depth + 1,
         w.path_cents + CAST(round(p.c_acctbal * 100) AS BIGINT)
  FROM walk w JOIN customer p ON p.c_custkey = w.anc
  WHERE w.anc <> w.custkey AND w.depth < {RECUR_MAX_DEPTH}
)
SELECT custkey AS c_custkey, CAST(MAX(depth) AS INT) AS depth,
       MAX_BY(anc, depth) AS root_key,
       MAX_BY(path_cents, depth) AS path_cents
FROM walk GROUP BY custkey
"""


SPECS += [
    QuerySpec("q_recursive_hierarchy", q_recursive_hierarchy,
              Q_RECURSIVE_HIERARCHY_ORACLE,
              "WITH RECURSIVE referral-forest walk with exact path rollup",
              ("relational", "spark4", "iterative")),
]


# --- Spark 4 VARIANT type: parse_json / variant_get / schema_of_variant ------
# The open-schema JSON path NEXT to get_json_object (json_props_rollup):
# props parses ONCE into the binary VARIANT encoding, fields extract with
# typed variant_get (no per-access string re-parse — the reason VARIANT
# exists at 100 TB: parse cost is paid once per row, extraction is a
# binary offset walk), and schema_of_variant_agg reports the merged
# observed schema — the drift detector for open-schema event streams.
# The oracle replays the numeric extractions via DuckDB's JSON casts and
# pins the aggregated schema string the uniform fixture yields.

def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    with temp_view(load_table(spark, sf_dir, "events"), "_var_events") as view:
        return spark.sql(
            f"""
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS k_sum,
                   CAST(COUNT(DISTINCT variant_get(v, '$.k', 'bigint')) AS BIGINT)
                     AS k_distinct,
                   CAST(MAX(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS k_max,
                   schema_of_variant_agg(v) AS props_schema
            FROM (SELECT event_type, parse_json(props) AS v FROM {view})
            GROUP BY event_type
            """
        )


Q_VARIANT_PROPS_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(COUNT(DISTINCT CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
         AS k_distinct,
       CAST(MAX(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS k_max,
       'OBJECT<k: BIGINT>' AS props_schema
FROM events GROUP BY event_type
"""


SPECS += [
    QuerySpec("q_variant_props", q_variant_props, Q_VARIANT_PROPS_ORACLE,
              "VARIANT open-schema path: parse once, typed variant_get, "
              "schema_of_variant_agg drift readout",
              ("relational", "spark4", "json")),
]


# --- runtime bloom-filter semi-join reduction ----------------------------------
# The 100 TB join-pruning surface Spark adds ON TOP of static pushdown:
# when one join side carries a selective filter, Catalyst's
# InjectRuntimeFilter builds a bloom filter from that side's join keys
# (bloom_filter_agg) and applies it as might_contain() on the OTHER
# side's scan — the fact table's shuffle input shrinks by roughly the
# dim filter's selectivity BEFORE the join, without bucketing or DPP
# partitioning. Controlled by spark.sql.optimizer.runtime.bloomFilter.*;
# injection needs the application side to look scan-heavy
# (applicationSideScanSizeThreshold, default 10 GB) and a non-broadcast
# join, so at test scale the vanilla plan skips it (correctly: a
# broadcast join IS the stronger reduction there). The injection
# behavior itself is pinned under production-shaped thresholds in
# tests/test_plans.py::test_runtime_bloom_filter_injection.

def q_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
            )).alias("revenue_cents"),
        )
    )


Q_BLOOM_RUNTIME_FILTER_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


SPECS += [
    QuerySpec("q_bloom_runtime_filter", q_bloom_runtime_filter,
              Q_BLOOM_RUNTIME_FILTER_ORACLE,
              "selective-dim fact join whose runtime bloom-filter "
              "injection is plan-pinned under production thresholds",
              ("relational", "join", "scale")),
]
