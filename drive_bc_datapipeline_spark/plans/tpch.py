"""Core OLAP plans (SURVEY §2 C): TPC-H-style scan/agg/join/window.

These exercise the engine's relational core the way the reference's
Athena SQL layer does (reference: athena.sql:19-29 — grouped counts
over the event table), but at proper analytical complexity.

Scale notes (100 TB): every plan is declarative; Catalyst pushes the
filters into the parquet scan and prunes columns. Joins against
region/nation/customer/supplier are broadcast (dims are tiny relative
to facts at any SF); lineitem↔orders is the one genuine shuffle and
would be bucketed on orderkey in a real deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.plans.registry import (
    query,
    r2,
    r2_sql,
    r4,
    r4_sql,
    r6,
    r6_sql,
    t,
)
from drive_bc_datapipeline_spark.session import pin

# --------------------------------------------------------------------------
# C1 — flagship: TPC-H Q1 pricing summary.
# One scan, filter pushed to parquet, map-side partial aggregation into a
# 4-group result: the canonical "agg that never shuffles much" plan.
# --------------------------------------------------------------------------

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
  ROUND(AVG(l_quantity), 4)                                          AS avg_qty,
  ROUND(AVG(l_extendedprice), 4)                                     AS avg_price,
  ROUND(AVG(l_discount), 4)                                          AS avg_disc,
  COUNT(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# C2 — TPC-H Q3 shipping priority: selective filters on both join sides,
# 3-way join, agg, deterministic top-10.
# --------------------------------------------------------------------------

Q3_ORACLE = """
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.to_timestamp(F.lit("1998-03-15"))
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer side is small after the segment filter → broadcast.
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# C3 — TPC-H Q5-style local-supplier revenue: 6-way star join where every
# dimension is broadcast; the only shuffle is lineitem↔orders.
# --------------------------------------------------------------------------

Q5_ORACLE = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@query("q5_local_supplier", Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# C4 — window rank: top-3 customers by spend per nation.
# Rank over rounded spend with custkey tiebreak so both engines agree.
# --------------------------------------------------------------------------

WINDOW_RANK_ORACLE = """
WITH spend AS (
  SELECT c_nationkey,
         c_custkey,
         c_name,
         ROUND(SUM(o_totalprice), 2) AS total_spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_nationkey, c_custkey, c_name
), ranked AS (
  SELECT n_name, c_custkey, c_name, total_spend,
         ROW_NUMBER() OVER (
           PARTITION BY c_nationkey
           ORDER BY total_spend DESC, c_custkey
         ) AS rank_in_nation
  FROM spend JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey, c_name, total_spend,
       CAST(rank_in_nation AS BIGINT) AS rank_in_nation
FROM ranked
WHERE rank_in_nation <= 3
"""


@query("window_rank_customers", WINDOW_RANK_ORACLE)
def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("total_spend"), F.asc("c_custkey")
    )
    return (
        spend.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            "total_spend",
            F.col("rank_in_nation").cast("long").alias("rank_in_nation"),
        )
    )


# --------------------------------------------------------------------------
# C10 — TPC-H Q4 shape: EXISTS-style priority check. (Testdata lacks
# l_commitdate/l_receiptdate, so the EXISTS predicate is "has a returned
# lineitem" — the plan shape, a semi join into a grouped count, is Q4's.)
# --------------------------------------------------------------------------

Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


@query("q4_priority_exists", Q4_ORACLE)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# C11 — TPC-H Q6 forecast revenue: pure scan+filter+agg, every predicate
# pushed to the parquet scan. The single-row result makes filter
# selectivity the entire cost — the canonical pushdown benchmark.
# --------------------------------------------------------------------------

Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# C12 — TPC-H Q7 volume shipping between two nations, by year.
# Both nation dims broadcast; the cross-filter (pairs in either
# direction) is expressed declaratively so Catalyst can reorder.
# --------------------------------------------------------------------------

Q7_N1, Q7_N2 = "NATION_1", "NATION_2"

Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation,
         nc.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
  JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
  WHERE (ns.n_name = '{Q7_N1}' AND nc.n_name = '{Q7_N2}')
     OR (ns.n_name = '{Q7_N2}' AND nc.n_name = '{Q7_N1}')
)
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q7_volume_shipping", Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    ns = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    nc = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == Q7_N1) & (F.col("cust_nation") == Q7_N2)
    ) | ((F.col("supp_nation") == Q7_N2) & (F.col("cust_nation") == Q7_N1))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(ns, F.col("s_nationkey") == F.col("s_nk"))
        .join(nc, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# C13 — TPC-H Q10 returned-item reporting: revenue lost to returns per
# customer over a quarter, deterministic top-20.
# --------------------------------------------------------------------------

Q10_ORACLE = """
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-07-01")))
    )
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# C14 — TPC-H Q12 shape: conditional (CASE) aggregation — high- vs
# low-priority order counts per lineitem return flag for one ship-year.
# (Testdata has no l_shipmode; the flag plays its role.)
# --------------------------------------------------------------------------

Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query("q12_priority_lines", Q12_ORACLE)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# C15 — TPC-H Q14 promotion effect: percentage-of-total via two
# conditional sums over one part-joined scan.
# --------------------------------------------------------------------------

Q14_ORACLE = """
SELECT ROUND(
         100.0 * SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


@query("q14_promo_revenue", Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-03-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    p = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# C16 — TPC-H Q18 large-volume customers: HAVING over a grouped fact,
# then joins back to dims; deterministic top-20.
# --------------------------------------------------------------------------

Q18_QTY = 150

Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey,
       o_orderdate, ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(l_quantity) > {Q18_QTY}
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@query("q18_large_orders", Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    # Pre-aggregate lineitem on its own key FIRST (map-side partials),
    # then filter, THEN join dims — at 100 TB the HAVING kills ~all
    # groups, so the dim joins see only survivors.
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > Q18_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# C17 — TPC-H Q19 discounted revenue: disjunction of (brand, size,
# quantity) envelopes. The OR stays in ONE broadcast-joined scan —
# Catalyst evaluates the disjunction post-join; no union of scans.
# --------------------------------------------------------------------------

Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
"""


@query("q19_discounted_revenue", Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    env = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(env)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# C18 — TPC-H Q22 shape: scalar subquery (global average) + anti join
# (customers with above-average balance and no orders), grouped.
# --------------------------------------------------------------------------

Q22_ORACLE = """
SELECT c_nationkey,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_nationkey
"""


@query("q22_idle_customers", Q22_ORACLE)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    # scalar subquery → 1-row broadcast cross join (no driver round-trip)
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# C20 — TPC-H Q8 shape: market share — the share of yearly revenue
# (from one region's customers) supplied by one target nation.
# Percentage-of-total over a multi-join star, per year.
# --------------------------------------------------------------------------

Q8_REGION, Q8_NATION = "ASIA", "NATION_1"

Q8_ORACLE = f"""
SELECT l_year,
       ROUND(SUM(CASE WHEN supp_nation = '{Q8_NATION}' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (
  SELECT CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
         ns.n_name AS supp_nation,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
  WHERE r.r_name = '{Q8_REGION}'
)
GROUP BY l_year
"""


@query("q8_market_share", Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == Q8_NATION, volume).otherwise(0.0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(F.sum(target) / F.sum(volume), 6).alias("mkt_share"))
    )


# --------------------------------------------------------------------------
# C21 — TPC-H Q13 (customer order-count distribution): the left-join +
# double-aggregation shape. The testdata schema carries no o_comment,
# so the original comment exclusion is omitted (noted; the plan shape —
# outer join preserving 0-order customers, then a distribution agg —
# is the point).
#
# 100 TB: orders shuffle on custkey against customer; the second
# aggregation's input is one row per customer and its output one row
# per distinct order count — both tiny relative to the fact table.
# --------------------------------------------------------------------------

Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@query("q13_custdist", Q13_ORACLE)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# C22 — TPC-H Q15 (top supplier by quarterly revenue). The naive
# "WHERE revenue = (SELECT MAX...)" shape re-executes the float
# aggregation twice; on a cluster the two merges can differ in the
# last ulp (shuffle-fetch arrival order) and the equality then matches
# NOTHING. The Spark plan pins ONE materialization of the revenue view
# (``session.pin``) and then does scalar-MAX + broadcast equality
# join against that pinned frame — the MAX job and the filter job read
# the same double sums, so the equality is safe and keeps ties exactly
# like rank()=1. (An earlier round used a rank window instead, but
# Spark plans an unpartitioned rank as ONE task holding every supplier
# — the max-equality join is fully distributed.) The DuckDB oracle
# ranks in SQL; single-process DuckDB has no merge-order hazard.
#
# 100 TB: revenue view = one filtered lineitem aggregation (per-supplier
# partial sums map-side); MAX reduces a dim-sized frame to one row,
# broadcast to the equality filter — no single-partition window.
# --------------------------------------------------------------------------

Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
ranked AS (
  SELECT supplier_no, total_revenue,
         RANK() OVER (ORDER BY total_revenue DESC) AS rnk
  FROM revenue
)
SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 2) AS total_revenue
FROM supplier s JOIN ranked r ON r.supplier_no = s.s_suppkey
WHERE r.rnk = 1
"""


@query("q15_top_supplier", Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    # Q15's "rank()=1 keeps ties" is max-equality: a scalar MAX + a
    # broadcast equality join, fully distributed — not a rank window
    # over the per-supplier frame, which Spark plans as ONE task
    # holding every supplier. revenue is pinned so
    # the MAX job and the filter job read the SAME double sums —
    # re-executing the lineage could merge shuffle partials in a
    # different order and perturb the last ulp, breaking equality.
    revenue = pin(revenue, "supplier revenue")
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 2).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# C23 — TPC-H Q16 (supplier variety per part attribute): distinct-count
# + NOT-IN exclusion. Adapted to the testdata schema: lineitem stands
# in for partsupp as the part↔supplier relation, and the "customer
# complaints" comment filter becomes a negative-balance supplier
# exclusion (supplier has no comment column).
#
# 100 TB: the exclusion list is dim-sized (broadcast anti join — NOT IN
# with a guaranteed-non-null key); the distinct count shuffles
# (brand, type, size, suppkey) with partial dedup map-side.
# --------------------------------------------------------------------------

Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("q16_supplier_variety", Q16_ORACLE)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    excluded = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = p.filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        l.join(
            F.broadcast(excluded),
            l["l_suppkey"] == excluded["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(pf), l["l_partkey"] == pf["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# C24 — TPC-H Q17 (small-quantity revenue): the correlated-aggregate
# shape (per-part average quantity feeding a per-line predicate),
# decorrelated into an aggregate + join. Quantities are integer-valued
# doubles, so per-part sums are EXACT regardless of accumulation order
# and the 0.2·avg threshold cannot flip across engines.
#
# 100 TB: per-part avg is one partial-agg shuffle over the filtered
# brand's lines; the join back is brand-selective (broadcastable).
# --------------------------------------------------------------------------

Q17_ORACLE = """
WITH target AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'
),
avgq AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_limit
  FROM lineitem JOIN target ON p_partkey = l_partkey
  GROUP BY l_partkey
)
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN avgq a ON a.l_partkey = l.l_partkey
WHERE l.l_quantity < a.qty_limit
"""


@query("q17_small_qty_revenue", Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    target = p.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    brand_lines = l.join(
        F.broadcast(target), l["l_partkey"] == target["p_partkey"]
    )
    avgq = brand_lines.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        l.join(
            F.broadcast(avgq.withColumnRenamed("l_partkey", "a_partkey")),
            l["l_partkey"] == F.col("a_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# C25 — TPC-H Q9 (profit by nation and year), adapted: the testdata
# has no partsupp/ps_supplycost, so profit reduces to discounted
# revenue attributed to the SUPPLIER's nation — the 5-way join +
# two-level group-by is the shape being exercised.
#
# 100 TB: lineitem⋈orders is the genuine shuffle (orderkey);
# part/supplier/nation broadcast; the p_name LIKE filter prunes parts
# before the broadcast.
# --------------------------------------------------------------------------

Q9_ORACLE = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN part p     ON p.p_partkey  = l.l_partkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@query("q9_profit_by_nation", Q9_ORACLE)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


# --------------------------------------------------------------------------
# L1/L2 as driver-gated queries: the skew toolbox operators were
# previously covered only by unit tests; routing real aggregations
# through them puts their SEMANTICS (identical results to the plain
# plans) under the external oracle gate every round.
#
# 100 TB: this is exactly how a skewed partkey (a handful of mega-SKUs
# dominating lineitem) would be handled — the salt splits each hot
# key's rows across n_salts reducers while the small side replicates
# n_salts×; the two-phase group-by merges per-salt partials whose
# second exchange is n_salts rows per key.
# --------------------------------------------------------------------------

SALTED_JOIN_ORACLE = """
SELECT p.p_brand,
       COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice), 2) AS total_price
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
"""


@query("salted_join_brand_revenue", SALTED_JOIN_ORACLE)
def salted_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.joins import salted_join

    l = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        salted_join(l, p, key="l_partkey", n_salts=8)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


SALTED_GROUPBY_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


@query("salted_groupby_priority", SALTED_GROUPBY_ORACLE)
def salted_groupby_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.joins import salted_groupby

    o = t(spark, sf_dir, "orders")
    out = salted_groupby(
        o,
        keys=["o_orderpriority"],
        aggs={
            "n_orders": "count(*)",
            "total_price": "sum(o_totalprice)",
            "max_price": "max(o_totalprice)",
        },
        n_salts=8,
    )
    return out.select(
        "o_orderpriority",
        "n_orders",
        F.round("total_price", 2).alias("total_price"),
        F.round("max_price", 2).alias("max_price"),
    )


# --------------------------------------------------------------------------
# C26 — TPC-H Q2 shape (minimum-cost supplier): correlated "supplier
# achieving the minimum supply cost per part" decorrelated into an
# aggregate + window rank. Adapted to the testdata schema (no partsupp):
# the part↔supplier cost relation is derived from lineitem as the
# minimum observed unit price MIN(l_extendedprice / l_quantity) per
# (part, supplier); the region predicate keeps only EUROPE suppliers
# and the part predicate keeps mid-range sizes.
#
# The original "WHERE cost = (SELECT MIN(...))" float-equality re-runs
# the subquery; like q15 we rank ONE materialization (row_number with a
# suppkey tiebreak) so the pick is deterministic cross-engine.
#
# 100 TB: the cost relation is one (partkey, suppkey)-keyed partial agg
# of lineitem (map-side combine); supplier⋈nation⋈region is a broadcast
# chain, and the per-part row_number windows over the aggregated
# (part×supplier-in-region) relation, not the fact table.
# Reference parity: athena.sql's grouped-lookup pattern at OLAP
# complexity (drive-bc-datapipeline has no join engine of its own).
# --------------------------------------------------------------------------

Q2_ORACLE = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
ranked AS (
  SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
         ROW_NUMBER() OVER (
           PARTITION BY c.l_partkey
           ORDER BY c.unit_cost, c.l_suppkey
         ) AS rn
  FROM cost c JOIN eu ON c.l_suppkey = eu.s_suppkey
)
SELECT p.p_partkey, p.p_type,
       eu.s_name, eu.n_name,
       {r2_sql('eu.s_acctbal')}   AS s_acctbal,
       {r4_sql('r.unit_cost')} AS unit_cost
FROM ranked r
JOIN part p ON p.p_partkey = r.l_partkey
JOIN eu     ON eu.s_suppkey = r.l_suppkey
WHERE r.rn = 1 AND p.p_size BETWEEN 10 AND 20
"""


@query("q2_min_cost_supplier", Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_size").between(10, 20))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_cost"
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = (
        cost.join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return best.join(F.broadcast(p), best.l_partkey == p.p_partkey).select(
        "p_partkey",
        "p_type",
        "s_name",
        "n_name",
        r2(F.col("s_acctbal")).alias("s_acctbal"),
        r4(F.col("unit_cost")).alias("unit_cost"),
    )


# --------------------------------------------------------------------------
# C27 — TPC-H Q11 shape (important stock): grouped inventory value per
# part + scalar-subquery threshold. Adapted: "inventory value" is
# SUM(l_extendedprice * l_quantity) of lines supplied by NATION_7
# suppliers, and the original fixed fraction (which is SF-dependent)
# becomes value > 1.05 × the mean per-part value — scale-invariant, so
# the query returns a meaningful subset at every SF.
#
# 100 TB: one shuffle on l_partkey after a broadcast semi-join against
# the nation-filtered supplier dim; the scalar total is a second agg of
# the SAME grouped relation (tiny), cross-joined broadcast — the fact
# table is scanned once.
# --------------------------------------------------------------------------

Q11_ORACLE = f"""
WITH nat AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
),
value_per_part AS (
  SELECT l_partkey, SUM(l_extendedprice * l_quantity) AS part_value
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM nat)
  GROUP BY l_partkey
)
SELECT l_partkey, {r2_sql('part_value')} AS part_value
FROM value_per_part
WHERE part_value > 1.05 * (
  SELECT SUM(part_value) / COUNT(*) FROM value_per_part
)
"""


@query("q11_important_stock", Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")

    nat = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    per_part = (
        l.join(F.broadcast(nat), l.l_suppkey == nat.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
                "part_value"
            )
        )
    )
    threshold = per_part.agg(
        (F.sum("part_value") / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > 1.05 * F.col("mean_value"))
        .select("l_partkey", r2(F.col("part_value")).alias("part_value"))
    )


# --------------------------------------------------------------------------
# C28 — TPC-H Q20 shape (part promotion): nested semi-join chain into
# a correlated quantity threshold. Adapted (no partsupp/availqty): a
# (supplier, part) pair is "promotable" when its 1997 shipments of a
# 'large%' part exceed half of that pair's all-time shipments — the
# same agg-vs-agg correlated comparison, decorrelated into ONE
# conditional aggregation. Suppliers with any promotable pair survive
# the semi join.
#
# 100 TB: part filter broadcast-semi-joins into the fact scan BEFORE
# the (suppkey, partkey) aggregation (one shuffle on the pair key);
# both the year-window sum and the all-time sum come from the same
# single pass (conditional agg, no self-join); the final supplier
# lookup is dim-sized.
# --------------------------------------------------------------------------

Q20_ORACLE = f"""
WITH pairs AS (
  SELECT l_suppkey,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate <  TIMESTAMP '1998-01-01'
                  THEN l_quantity ELSE 0 END) AS qty_1997,
         SUM(l_quantity) AS qty_total
  FROM lineitem
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_name LIKE 'large%'
  )
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate <  TIMESTAMP '1998-01-01'
                  THEN l_quantity ELSE 0 END) > 0.5 * SUM(l_quantity)
)
SELECT s.s_suppkey, s.s_name, n.n_name,
       {r2_sql('s.s_acctbal')} AS s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM pairs)
"""


@query("q20_promotable_parts", Q20_ORACLE)
def q20_promotable_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("large%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")

    in_1997 = (
        F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01"))
    ) & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    pairs = (
        l.join(
            F.broadcast(p.select("p_partkey")),
            l.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1997, F.col("l_quantity")).otherwise(0)).alias(
                "qty_1997"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_1997") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(pairs), s.s_suppkey == pairs.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            r2(F.col("s_acctbal")).alias("s_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# C29 — TPC-H Q21 shape (suppliers who kept orders waiting): the
# canonical EXISTS + NOT-EXISTS double self-join on the fact table.
# Adapted (no commit/receipt dates): a line is "late" when it shipped
# more than 45 days after the order date. For finished ('F') orders,
# count per supplier the orders where THAT supplier was late, at least
# one other supplier participated (EXISTS), and no other supplier was
# late (NOT EXISTS) — i.e. the orders this supplier alone held up.
#
# 100 TB: `late` is one orders⋈lineitem join (shuffle on orderkey,
# order filter pushed to the scan). The EXISTS is a semi join of late
# against lineitem on orderkey (residual suppkey≠ predicate); the
# NOT-EXISTS is an anti self-join of late against itself — all three
# hash-partition on l_orderkey, so AQE coalesces them into one
# exchange lineage; no window, no cartesian.
# --------------------------------------------------------------------------

Q21_ORACLE = """
WITH late AS (
  SELECT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM late w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = w.l_orderkey
      AND l2.l_suppkey <> w.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = w.l_orderkey
      AND l3.l_suppkey <> w.l_suppkey
  )
GROUP BY s.s_suppkey, s.s_name
"""


@query("q21_waiting_supplier", Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Re-scan audit note: lineitem appears 3x BY DESIGN — Q21's text
    # references it three times (late lines, EXISTS other-supplier,
    # NOT EXISTS other-late-supplier), each as a differently-filtered
    # pruned scan; DuckDB plans the same three reads. Checkpointing
    # the fact table to dedupe them would be strictly worse at scale.
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = t(spark, sf_dir, "supplier")

    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    w = late.alias("w")
    l2 = l.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    waited = (
        w.join(
            l2,
            (F.col("w.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("w.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("w.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("w.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(s), F.col("w.l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# L7 — join-key skew profiler: the diagnostic that decides WHICH scale
# strategy a join needs (broadcast / plain shuffle / salting / AQE skew
# split). Two-level aggregation: per-key counts (one shuffle with
# map-side partials — the same cost the join itself would pay), then a
# single-row summary of the count distribution. At 100 TB this is the
# cheap dry-run you do before committing to a shuffle plan; the p99/p50
# ratio and top-1 share are the salting decision inputs (see L1/L2,
# operators/joins.py).
# --------------------------------------------------------------------------

SKEW_PROFILE_ORACLE = f"""
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
       {r4_sql("quantile_cont(cnt, 0.5)")} AS p50_key_rows,
       {r4_sql("quantile_cont(cnt, 0.99)")} AS p99_key_rows,
       {r6_sql("CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)")} AS top1_share,
       {r4_sql("MAX(cnt) * COUNT(*) / CAST(SUM(cnt) AS DOUBLE)")}
           AS skew_factor
FROM counts
"""


@query("join_key_skew_profile", SKEW_PROFILE_ORACLE)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        r4(F.expr("percentile(cnt, 0.5)")).alias("p50_key_rows"),
        r4(F.expr("percentile(cnt, 0.99)")).alias("p99_key_rows"),
        r6(F.max("cnt").cast("double") / F.sum("cnt")).alias("top1_share"),
        r4(
            F.max("cnt") * F.count(F.lit(1)) / F.sum("cnt").cast("double")
        ).alias("skew_factor"),
    )


# --------------------------------------------------------------------------
# C31 — snapshot diff (CDC-style table compare): classify every order
# key as added / removed / changed / unchanged between two versions of
# the table. The "new" snapshot is derived deterministically from the
# same base so both engines see identical versions: keys ≡0 (mod 97)
# are deletions, keys ≡0 (mod 13) get a repriced o_totalprice
# (updates), and a disjoint negative-key slice (≡0 mod 101) simulates
# inserts. The diff itself — the operator under test — is one
# full-outer join on the key plus a null/equality classifier,
# aggregated per (o_orderstatus, change_type).
#
# 100 TB: both sides shuffle once on the join key (AQE handles the
# residual skew); the classifier is a map-side expression and the
# rollup reduces before the final tiny exchange. This is how you audit
# a replicated 100 TB table across clusters without collecting it.
# --------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0
              THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, ROUND(o_totalprice * 0.5, 2)
  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey > 0
), diff AS (
  SELECT COALESCE(o.o_orderstatus, n.o_orderstatus) AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN n.o_totalprice <> o.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
)
SELECT o_orderstatus, change_type, COUNT(*) AS n_keys
FROM diff GROUP BY o_orderstatus, change_type
"""


@query("snapshot_diff_orders", SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # one scan builds both new-snapshot branches (kept/updated rows and
    # synthetic additions) via the array+explode fan-out — a unionByName
    # of two filtered selects re-executes the orders scan per branch
    k = F.col("o_orderkey")
    kept = F.when(
        k % 97 != 0,
        F.struct(
            k.alias("o_orderkey"),
            F.col("o_orderstatus"),
            F.when(k % 13 == 0, F.round(F.col("o_totalprice") * 1.1, 2))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        ),
    )
    added = F.when(
        (k % 101 == 0) & (k > 0),
        F.struct(
            (-k).alias("o_orderkey"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 0.5, 2).alias("o_totalprice"),
        ),
    )
    new = (
        o.select(
            F.explode(
                F.filter(F.array(kept, added), lambda x: x.isNotNull())
            ).alias("r")
        )
        .select("r.o_orderkey", "r.o_orderstatus", "r.o_totalprice")
    )
    j = o.alias("o").join(
        new.alias("n"),
        F.col("n.o_orderkey") == F.col("o.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("removed"))
        .when(
            F.col("n.o_totalprice") != F.col("o.o_totalprice"),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce("o.o_orderstatus", "n.o_orderstatus").alias(
                "o_orderstatus"
            ),
            change.alias("change_type"),
        )
        .groupBy("o_orderstatus", "change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


# --------------------------------------------------------------------------
# L11 — join-cardinality estimator dry-run. Before launching a big
# fact⋈fact join, a planner (or an engineer) wants its output size:
# exact = Σ_k cnt_A(k)·cnt_B(k) from the two per-key count frames
# (each a map-side-combined aggregate, joined key-on-key — the cost
# is two shuffles of COUNT rows, never the join itself), versus the
# textbook independence estimate |A|·|B| / max(ndv_A, ndv_B). The
# ratio between them is exactly the correlation the estimator
# misses; the top-key share says whether AQE skew handling or L1
# salting is needed. Companion to L8 (single-side skew profile).
# --------------------------------------------------------------------------

JOIN_CARD_ORACLE = f"""
WITH la AS (SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1),
ob AS (SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1),
joined AS (
  SELECT la.k, la.ca * ob.cb AS prod
  FROM la JOIN ob ON la.k = ob.k
),
tot AS (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n_a,
         (SELECT COUNT(*) FROM orders) AS n_b,
         (SELECT COUNT(*) FROM la) AS ndv_a,
         (SELECT COUNT(*) FROM ob) AS ndv_b,
         CAST(COALESCE(SUM(prod), 0) AS BIGINT) AS exact_rows,
         CAST(COALESCE(MAX(prod), 0) AS BIGINT) AS max_key_rows
  FROM joined
)
SELECT CAST(n_a AS BIGINT) AS n_left,
       CAST(n_b AS BIGINT) AS n_right,
       CAST(ndv_a AS BIGINT) AS ndv_left,
       CAST(ndv_b AS BIGINT) AS ndv_right,
       exact_rows,
       CAST(floor(CAST(n_a AS BIGINT) * n_b
            / greatest(ndv_a, ndv_b)) AS BIGINT) AS est_rows,
       {r6_sql("exact_rows / (CAST(n_a AS DOUBLE) * n_b"
               " / greatest(ndv_a, ndv_b))")} AS est_error_factor,
       max_key_rows,
       {r6_sql("max_key_rows / CAST(exact_rows AS DOUBLE)")}
           AS top1_share
FROM tot
"""


@query("join_cardinality_estimate", JOIN_CARD_ORACLE)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two per-key COUNT aggregates + one count-frame join — the join
    output size WITHOUT running the join. Every aggregate has a
    map-side partial; the joined frame is ndv-sized, not output-sized."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    la = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    ob = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    joined = la.join(ob, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("prod")
    )
    stats = joined.agg(
        F.coalesce(F.sum("prod"), F.lit(0)).cast("bigint").alias("exact_rows"),
        F.coalesce(F.max("prod"), F.lit(0)).cast("bigint").alias("max_key_rows"),
    )
    # n_rows = SUM of the per-key counts and ndv = the count frame's
    # row count — one aggregate per side over la/ob, instead of
    # separate raw-table counts that re-scan each fact a third time
    sides = la.agg(
        F.sum("ca").alias("n_left"), F.count(F.lit(1)).alias("ndv_left")
    ).crossJoin(
        ob.agg(
            F.sum("cb").alias("n_right"),
            F.count(F.lit(1)).alias("ndv_right"),
        )
    )
    est = F.floor(
        F.col("n_left").cast("bigint")
        * F.col("n_right")
        / F.greatest("ndv_left", "ndv_right")
    ).cast("bigint")
    return (
        stats.crossJoin(sides)  # four 1-row frames — scalar composition
        .select(
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.col("ndv_left").cast("bigint").alias("ndv_left"),
            F.col("ndv_right").cast("bigint").alias("ndv_right"),
            "exact_rows",
            est.alias("est_rows"),
            r6(
                F.col("exact_rows")
                / (
                    F.col("n_left").cast("double")
                    * F.col("n_right")
                    / F.greatest("ndv_left", "ndv_right")
                )
            ).alias("est_error_factor"),
            "max_key_rows",
            r6(
                F.col("max_key_rows") / F.col("exact_rows").cast("double")
            ).alias("top1_share"),
        )
    )


# --------------------------------------------------------------------------
# C32 — market-basket brand affinity (support + lift): which part
# brands are co-purchased within an order more often than chance.
# The association-rules shape on the TPC-H star: per-order distinct
# brand sets expanded to ordered pairs MAP-SIDE (baskets are
# lineitem-count bounded, so the fan-out is per-basket quadratic in
# a SMALL constant, never corpus-quadratic — the same containment
# argument as token co-occurrence), then one pair-count aggregate
# joined against the two brands' basket counts for
# lift = P(a,b) / (P(a)·P(b)). Top-25 by lift, deterministic ties.
# --------------------------------------------------------------------------

AFFINITY_TOP = 25
AFFINITY_MIN_PAIRS = 5

BRAND_AFFINITY_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
nb AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_baskets
       FROM baskets),
bc AS (SELECT brand, COUNT(*) AS n FROM baskets GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
),
scored AS (
  SELECT p.brand_a, p.brand_b, p.n_pair,
         CAST(p.n_pair AS DOUBLE) * nb.n_baskets / (ca.n * cb.n) AS lift
  FROM pairs p
  JOIN bc ca ON ca.brand = p.brand_a
  JOIN bc cb ON cb.brand = p.brand_b
  CROSS JOIN nb
  WHERE p.n_pair >= {AFFINITY_MIN_PAIRS}
)
SELECT brand_a, brand_b, CAST(n_pair AS BIGINT) AS n_pair,
       {r4_sql("lift")} AS lift
FROM (
  SELECT *, ROW_NUMBER() OVER (
      ORDER BY lift DESC, brand_a, brand_b) AS rk
  FROM scored
) WHERE rk <= {AFFINITY_TOP}
"""


@query("brand_affinity_lift", BRAND_AFFINITY_ORACLE)
def brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted brand arrays expand to pairs map-side (no
    basket self-join shuffle); the pair aggregate and two broadcast
    brand-count joins produce lift; global top-25 is TakeOrdered over
    the |brand-pairs|-bounded scored frame.

    ONE wide shuffle total: collect_set subsumes the (okey, brand)
    distinct, so the broadcast join feeds a single groupBy(okey)
    whose pinned result serves all three consumers — the basket
    count is a row count of the pinned frame (no distinct shuffle),
    brand supports re-derive by exploding the per-basket sets (each
    element IS one distinct (okey, brand) pair), and the pair
    expansion starts from the already-grouped arrays."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    grouped = pin(
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("brand")).alias("bs")),
        "order baskets",  # feeds basket count, brand counts, pairs
    )
    nb = grouped.count()
    bc = (
        grouped.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_expr = F.expr(
        "flatten(transform(bs, (a, i) -> "
        "transform(slice(bs, i + 2, size(bs)), "
        "b -> named_struct('brand_a', a, 'brand_b', b))))"
    )
    pairs = (
        grouped.select(F.explode(pair_expr).alias("pr"))
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= AFFINITY_MIN_PAIRS)
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("n").alias("na"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb_"))
    lift = F.col("n_pair").cast("double") * nb / (F.col("na") * F.col("nb_"))
    scored = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .select("brand_a", "brand_b", "n_pair", lift.alias("lift"))
    )
    top = scored.orderBy(
        F.desc("lift"), "brand_a", "brand_b"
    ).limit(AFFINITY_TOP)
    return top.select(
        "brand_a",
        "brand_b",
        F.col("n_pair").cast("bigint").alias("n_pair"),
        r4(F.col("lift")).alias("lift"),
    )


# --------------------------------------------------------------------------
# C33 — CDC MERGE application: apply a change batch (updates, deletes,
# inserts — derived deterministically from the key space so the oracle
# can replay it) to the orders snapshot and report the post-merge
# state per status plus the global op counts. One scan: each base row
# fans out through an array+posexplode into its keep/update/delete/
# insert entries (the repo's no-union-re-execution pattern), the tiny
# per-status aggregate is pinned, and both the final-state readout and
# the 1-row op-count frame derive from it — the fact table is read
# exactly once. Complements K13 (partition-pruned MERGE writer) and
# C31 (snapshot diff): this is the apply-and-audit half of CDC.
# --------------------------------------------------------------------------

CDC_ORACLE = f"""
WITH final AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 10 <> 3
  UNION ALL
  SELECT 'O' AS o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 = 1
),
ops AS (
  SELECT CAST(SUM(CASE WHEN o_orderkey % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_updated,
         CAST(SUM(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted,
         CAST(SUM(CASE WHEN o_orderkey % 10 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inserted
  FROM orders
)
SELECT f.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {r2_sql("SUM(f.price)")} AS total_price,
       o.n_updated, o.n_deleted, o.n_inserted
FROM final f CROSS JOIN ops o
GROUP BY 1, 4, 5, 6
"""


@query("cdc_merge_apply", CDC_ORACLE)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey") % 10
    fanout = (
        F.when(key == 3, F.array(F.struct(
            F.col("o_orderstatus"), F.col("o_totalprice").alias("price"),
            F.lit("del").alias("kind"))))
        .when(key == 7, F.array(F.struct(
            F.col("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("price"),
            F.lit("upd").alias("kind"))))
        .when(key == 1, F.array(
            F.struct(
                F.col("o_orderstatus"), F.col("o_totalprice").alias("price"),
                F.lit("keep").alias("kind")),
            F.struct(
                F.lit("O").alias("o_orderstatus"),
                F.col("o_totalprice").alias("price"),
                F.lit("ins").alias("kind"))))
        .otherwise(F.array(F.struct(
            F.col("o_orderstatus"), F.col("o_totalprice").alias("price"),
            F.lit("keep").alias("kind"))))
    )
    exploded = o.select(F.explode(fanout).alias("e")).select(
        F.col("e.o_orderstatus").alias("o_orderstatus"),
        F.col("e.price").alias("price"),
        F.col("e.kind").alias("kind"),
    )
    live = F.col("kind") != "del"
    # tiny |statuses|-row frame feeds both the readout and the global op
    # counts — one fact scan
    per_status = pin(
        exploded.groupBy("o_orderstatus")
        .agg(
            F.sum(live.cast("int")).cast("bigint").alias("n_rows"),
            F.sum(F.when(live, F.col("price")).otherwise(0.0)).alias("sum_price"),
            F.sum((F.col("kind") == "upd").cast("int")).cast("bigint").alias("u"),
            F.sum((F.col("kind") == "del").cast("int")).cast("bigint").alias("d"),
            F.sum((F.col("kind") == "ins").cast("int")).cast("bigint").alias("i"),
        ),
        "per-status counts",
    )
    ops = per_status.agg(
        F.sum("u").alias("n_updated"),
        F.sum("d").alias("n_deleted"),
        F.sum("i").alias("n_inserted"),
    )
    return (
        per_status.filter(F.col("n_rows") > 0)
        .crossJoin(F.broadcast(ops))
        .select(
            "o_orderstatus",
            "n_rows",
            r2(F.col("sum_price")).alias("total_price"),
            "n_updated",
            "n_deleted",
            "n_inserted",
        )
    )
