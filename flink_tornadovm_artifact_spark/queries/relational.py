"""Declared relational queries Q01-Q16 (SURVEY.md §2.J).

Each query exercises one row of the reference's operator inventory
(SURVEY.md §2.B-§2.E, §2.H — the Flink DataSet / Table surface, e.g.
``DataSet.java`` map/filter/join/aggregate/distinct/minBy and the Blink SQL
planner's window/rollup rules) re-expressed as idiomatic Spark DataFrame
plans. Every function takes ``(spark, sf_dir)`` and returns a DataFrame;
``ORACLE`` holds the DuckDB-equivalent SQL with identical column aliases.

Scale notes (100 TB discipline):
- dimension joins (region/nation/supplier/customer) are broadcast;
- fact-fact joins shuffle on their equi-keys and rely on AQE for skew;
- aggregates are expressed declaratively so Catalyst plans partial
  (map-side) aggregation before the shuffle;
- window functions partition on high-cardinality keys (custkey), never on
  a constant, so no single-partition bottleneck.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from ._util import DEC, davg, davg_sql, dsum, dsum_sql, register


# ---------------------------------------------------------------------------
# Q01 — scan + filter + project (DataSet.filter/project; TPCHQuery3.java:108)
# ---------------------------------------------------------------------------
def q01_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushed down into the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_extendedprice")


register(q01_filter_project, """
SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_quantity > 30
""")


# ---------------------------------------------------------------------------
# Q02 — global aggregate (DataSet.aggregate SUM/MIN/MAX, DataSet.java:361)
# ---------------------------------------------------------------------------
def q02_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        dsum("l_extendedprice").alias("sum_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice").alias("avg_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


register(q02_global_agg, f"""
SELECT {dsum_sql('l_extendedprice')} AS sum_price,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       {davg_sql('l_extendedprice')} AS avg_price,
       COUNT(*) AS cnt
FROM lineitem
""")


# ---------------------------------------------------------------------------
# Q03 — grouped aggregate, TPC-H Q1 shape (UnsortedGrouping.reduce/aggregate)
# ---------------------------------------------------------------------------
def q03_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    charge = disc_price * (F.lit(1).cast(DEC) + F.col("l_tax").cast(DEC))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(q03_tpch_q1, f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4))))
            AS DOUBLE) AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")


# ---------------------------------------------------------------------------
# Q04 — 3-way equi-join + group agg, TPC-H Q3 shape (TPCHQuery3.java:142-165)
# ---------------------------------------------------------------------------
def q04_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    # No broadcast hints: orders and customer are SF-linear fact/scaling
    # tables (a pinned broadcast would OOM at 100 TB and AQE cannot demote
    # an explicit hint). The fact-fact edges shuffle on their equi-keys;
    # at small SF, AQE promotes the filtered small sides to BHJ on its own.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


register(q04_tpch_q3, """
SELECT l_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
""")


# ---------------------------------------------------------------------------
# Q05 — outer joins (DataSet.fullOuterJoin, DataSet.java:983)
# ---------------------------------------------------------------------------
def q05_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_customer_side"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_order_side"),
    )


register(q05_outer_join, """
SELECT COUNT(*) AS total_rows,
       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_customer_side,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_order_side
FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
""")


# ---------------------------------------------------------------------------
# Q06 — broadcast-hint join chain (joinWithTiny, DataSet.java:832)
# ---------------------------------------------------------------------------
def q06_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    return (
        supp.join(
            F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal").alias("sum_acctbal"),
        )
    )


register(q06_broadcast_join, f"""
SELECT r_name, COUNT(*) AS n_suppliers, {dsum_sql('s_acctbal')} AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")


# ---------------------------------------------------------------------------
# Q07 — semi / anti join (SQL IN/EXISTS rewrites; FlinkBatchRuleSets.scala:37)
# ---------------------------------------------------------------------------
def q07_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return with_orders.crossJoin(without_orders)


register(q07_semi_anti, """
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
  (SELECT COUNT(*) FROM customer
   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
""")


# ---------------------------------------------------------------------------
# Q08 — coGroup as full-outer join of grouped aggregates (CoGroupDriver.java)
# ---------------------------------------------------------------------------
def q08_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_g = (
        load(spark, sf_dir, "customer")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ord_g = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust_g.join(ord_g, cust_g.c_custkey == ord_g.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


register(q08_cogroup, """
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       COALESCE(c.n_cust, 0) AS n_cust,
       COALESCE(o.n_orders, 0) AS n_orders
FROM (SELECT c_custkey, COUNT(*) AS n_cust FROM customer GROUP BY c_custkey) c
FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
ON c.c_custkey = o.o_custkey
""")


# ---------------------------------------------------------------------------
# Q09 — cross join (DataSet.cross, CrossDriver.java)
# ---------------------------------------------------------------------------
def q09_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(nation).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("r_regionkey") * F.col("n_nationkey"))
        .cast("bigint")
        .alias("checksum"),
    )


register(q09_cross, """
SELECT COUNT(*) AS cnt,
       CAST(SUM(r_regionkey * n_nationkey) AS BIGINT) AS checksum
FROM region CROSS JOIN nation
""")


# ---------------------------------------------------------------------------
# Q10 — distinct (DataSet.distinct, DataSet.java:631)
# ---------------------------------------------------------------------------
def q10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


register(q10_distinct, """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")


# ---------------------------------------------------------------------------
# Q11 — minBy/maxBy: whole-row arg-max per key (UnsortedGrouping.maxBy)
# Deterministic tie-break on o_orderkey, mirroring Flink's
# first-encountered semantics pinned to a stable order (SURVEY §7 risk note).
# ---------------------------------------------------------------------------
def q11_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_orderkey"),
            F.col("o_totalprice").alias("best_totalprice"),
        )
    )


register(q11_maxby, """
SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_totalprice
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn = 1
""")


# ---------------------------------------------------------------------------
# Q12 — top-k: global sort+limit and per-group first-n (DataSet.first(n))
# ---------------------------------------------------------------------------
def q12_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


register(q12_topk_global, """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")


def q12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.col("rn").cast("bigint").alias("rn"))
    )


register(q12_topk_per_group, """
SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer)
WHERE rn <= 3
""")


# ---------------------------------------------------------------------------
# Q13 — union + distinct (DataSet.union, DataSet.java:1276)
# ---------------------------------------------------------------------------
def q13_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    low = orders.filter(F.col("o_orderkey") < 1000)  # overlaps with `even`
    u = even.union(low).distinct()
    return u.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


register(q13_union_distinct, """
SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
      UNION
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 1000)
""")


# ---------------------------------------------------------------------------
# Q14 — rollup / grouping sets (Blink planner SQL surface, SURVEY §2.H)
# ---------------------------------------------------------------------------
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


register(q14_rollup, f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")


# ---------------------------------------------------------------------------
# Q15 — SQL over-windows: rank/row_number/lag/lead (SURVEY §2.H windows)
# ---------------------------------------------------------------------------
def q15_over_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    wprice = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        F.rank().over(wprice).cast("bigint").alias("price_rank"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


register(q15_over_windows, """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
       CAST(RANK() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS price_rank,
       LAG(o_totalprice, 1) OVER w AS prev_price,
       LEAD(o_totalprice, 1) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""")


# ---------------------------------------------------------------------------
# Q16 — scalar function surface: string/date/math (BuiltInFunctionDefinitions)
# ---------------------------------------------------------------------------
def q16_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 10)).alias("prio_word"),
        F.length("o_orderstatus").cast("bigint").alias("status_len"),
        F.when(F.col("o_orderpriority").like("%URGENT%"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_urgent"),
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        # decimal arithmetic: double*0.1 rounded at the half-cent boundary
        # diverges between engines (shortest-repr HALF_UP vs true-value)
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("0.1").cast("decimal(2,1)"),
            2,
        )
        .cast("double")
        .alias("tithe"),
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("cust_tag"),
    )


register(q16_scalar_functions, """
SELECT o_orderkey,
       UPPER(SUBSTR(o_orderpriority, 3, 10)) AS prio_word,
       CAST(LENGTH(o_orderstatus) AS BIGINT) AS status_len,
       CAST(CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 ELSE 0 END AS BIGINT) AS is_urgent,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS tithe,
       CONCAT('C', CAST(o_custkey AS VARCHAR)) AS cust_tag
FROM orders
""")


# ---------------------------------------------------------------------------
# Q23 — TPC-H Q10 shape (reference ships TPCHQuery10.java as an example):
# returned-item revenue per customer, top 20. Only the bounded dim
# (nation, 25 rows) is broadcast-hinted; customer is SF-linear (~15B rows
# at 100 TB) so it shuffles on o_custkey — AQE may still promote it to
# BHJ at small SF, which is the right call there and only there.
# ---------------------------------------------------------------------------
def q23_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


register(q23_tpch_q10, """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DOUBLE) AS revenue
FROM lineitem, orders, customer, nation
WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""")


# ---------------------------------------------------------------------------
# Q24 — promo revenue ratio, TPC-H Q14 shape (exercises the `part` dim):
# conditional aggregation over a fact-dim join. part is SF-linear
# (SF*200k rows) so the join is unhinted — AQE broadcasts at small SF.
# ---------------------------------------------------------------------------
def q24_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_pct"
            ),
        )
    )


register(q24_promo_revenue, """
WITH j AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,4))
         * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS promo_pct
FROM j
""")


# ---------------------------------------------------------------------------
# Q25 — intersect / except (SQL INTERSECT/EXCEPT, SURVEY §2.D: present in
# the reference's SQL planner, free in Spark as df.intersect/exceptAll).
# ---------------------------------------------------------------------------
def q25_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    even = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    both = even.intersect(urgent).agg(F.count(F.lit(1)).alias("n_intersect"))
    only_even = even.distinct().exceptAll(urgent.distinct()).agg(
        F.count(F.lit(1)).alias("n_except")
    )
    return both.crossJoin(only_even)


register(q25_intersect_except, """
SELECT
  (SELECT COUNT(*) FROM
    (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_intersect,
  (SELECT COUNT(*) FROM
    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0
     EXCEPT
     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_except
""")


# ---------------------------------------------------------------------------
# Q26 — count distinct, global and grouped (distinct aggregation planning:
# Spark expands to a two-phase distinct aggregate; SURVEY §2.C).
# ---------------------------------------------------------------------------
def q26_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.countDistinct("l_suppkey").alias("nd_supps"),
        F.count(F.lit(1)).alias("cnt"),
    )


register(q26_count_distinct, """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS nd_parts,
       COUNT(DISTINCT l_suppkey) AS nd_supps,
       COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag
""")


# ---------------------------------------------------------------------------
# Q27 — SQL entry point (SURVEY §3.3): the same engine consumed through
# spark.sql() over registered views, proving Table/SQL-API parity
# (the reference ships the full Flink SQL stack; Spark SQL is the analog).
# ---------------------------------------------------------------------------
def q27_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority
        """
    )


register(q27_sql_api, """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderpriority
""")


# ---------------------------------------------------------------------------
# Q29 — reduceGroup as applyInPandas (UnsortedGrouping.reduceGroup:174,
# GroupReduceDriver): the full group materializes as one pandas frame —
# the documented scale caveat — and the UDF may be non-associative.
# Integer-only math keeps the oracle exact.
# ---------------------------------------------------------------------------
def q29_reduce_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        # deliberately order-dependent formulation (sorted first/last)
        # to exercise true full-group semantics, not a combinable fold
        s = pdf.sort_values("l_orderkey")
        return pd.DataFrame(
            {
                "l_returnflag": [s["l_returnflag"].iloc[0]],
                "n": [len(s)],
                "first_key": [int(s["l_orderkey"].iloc[0])],
                "last_key": [int(s["l_orderkey"].iloc[-1])],
                "key_checksum": [int(s["l_orderkey"].astype("int64").sum())],
            }
        )

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    return li.groupBy("l_returnflag").applyInPandas(
        summarize,
        "l_returnflag string, n long, first_key long, last_key long, "
        "key_checksum long",
    )


register(q29_reduce_group, """
SELECT l_returnflag, COUNT(*) AS n,
       MIN(l_orderkey) AS first_key, MAX(l_orderkey) AS last_key,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
FROM lineitem GROUP BY l_returnflag
""")


# ---------------------------------------------------------------------------
# Q28 — pandas UDAF (grouped-agg pandas_udf): the reference's custom
# AggregateFunction surface (SURVEY §2.K) on the Arrow-vectorized path.
# NumPy's pairwise mean differs from DuckDB's sequential AVG by ~1e-11 —
# far inside the oracle's 4-dp rounding.
# ---------------------------------------------------------------------------
def q28_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def pmean(v: pd.Series) -> float:
        return float(v.mean())

    @F.pandas_udf("long")
    def pcount(v: pd.Series) -> int:
        # Spark disallows mixing pandas and JVM aggregates in one agg
        return int(len(v))

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        pmean("value").alias("mean_value"),
        pcount("value").alias("cnt"),
    )


register(q28_pandas_udaf, """
SELECT event_type, AVG(value) AS mean_value, COUNT(*) AS cnt
FROM events GROUP BY event_type
""")


# ---------------------------------------------------------------------------
# Q30 — TPC-H Q5 shape: 5-way join through region→nation→(customer,
# supplier)→orders→lineitem with the same-nation condition. Only bounded
# dims (nation 25, region 5) are broadcast-hinted; customer is SF-linear
# so it joins unhinted (shuffle at scale, AQE-BHJ at small SF).
# ---------------------------------------------------------------------------
def q30_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


register(q30_tpch_q5, """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DOUBLE) AS revenue
FROM lineitem, orders, supplier, customer, nation, region
WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY n_name
""")


# ---------------------------------------------------------------------------
# Q31 — TPC-H Q18 shape: large-quantity orders via HAVING on a grouped
# sum, then semi-joined back to orders (aggregate→filter→join pipeline).
# ---------------------------------------------------------------------------
def q31_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_totalprice", "total_qty")
    )


register(q31_tpch_q18, f"""
SELECT o_orderkey, o_custkey, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, {dsum_sql('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {dsum_sql('l_quantity')} > 150) big
  ON o_orderkey = big.l_orderkey
""")


# ---------------------------------------------------------------------------
# Q32 — correlated aggregate subquery (Catalyst decorrelation; the
# reference's Blink planner lists the same rewrite, SURVEY §4.1):
# customers with above-nation-average account balance.
# ---------------------------------------------------------------------------
def q32_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, tables=("customer",))
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_nationkey = c.c_nationkey)
        """
    )


register(q32_correlated_subquery, """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                   WHERE c_nationkey = c.c_nationkey)
""")


# ---------------------------------------------------------------------------
# Q33 — window FRAMES: running decimal sum + first/last value over
# ROWS UNBOUNDED PRECEDING (the OVER-window frame surface of §2.H that
# q15's rank/lag/lead does not touch).
# ---------------------------------------------------------------------------
def q33_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("running_total"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.count(F.lit(1)).over(w).alias("orders_so_far"),
    )


register(q33_window_frames, """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_total,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       COUNT(*) OVER w AS orders_so_far
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")


# ---------------------------------------------------------------------------
# Q34 — explode / lateral view (flatMap as a declared query, the
# UDTF-shaped surface of §2.K): token frequencies of order priorities.
# ---------------------------------------------------------------------------
def q34_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.explode(F.split("o_orderpriority", "-")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(q34_explode_tokens, """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(o_orderpriority, '-')) AS token FROM orders)
GROUP BY token
""")


# ---------------------------------------------------------------------------
# Q35 — exact percentiles (ordered-set aggregate surface; Spark
# `percentile` ≡ DuckDB `quantile_cont`, both linear-interpolating).
# approx_percentile/approx_count_distinct exist in both engines but use
# different sketches, so only the exact form is oracle-checkable.
# ---------------------------------------------------------------------------
def q35_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.count(F.lit(1)).alias("cnt"),
    )


register(q35_percentiles, """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       COUNT(*) AS cnt
FROM orders GROUP BY o_orderstatus
""")


# ---------------------------------------------------------------------------
# Q49 — approximate aggregates (SURVEY §2.C: approx_count_distinct is in
# the reference's Blink SQL surface; Spark adds approx_percentile). The
# 100 TB path for cardinality/quantiles: HLL++ and KLL-style sketches
# merge associatively across partitions — one partial+final agg, no
# exact-distinct shuffle explosion.
# Oracle design (round 10 — closes the ledger's last rows-only hole):
# raw sketch outputs are engine-specific (Spark HLL++/KLL vs DuckDB
# HLL/T-digest) and can never hash-match, so the REGISTERED output is
# the tolerance-banded VERDICT — each engine runs its own approx
# aggregate in the same plan, compares it to its own exact counterpart,
# and emits within-band booleans (plus the exact anchors, which do
# hash-match). A sketch drifting past its documented error bound flips
# the boolean and fails the driver differential. Bands: 5× the 2% rsd
# for the HLL leg (both engines' defaults sit well inside), 1% relative
# for the median leg (approx quantile returns a nearby data point; the
# exact side interpolates).
# ---------------------------------------------------------------------------
def q49_approx_aggregates(
    spark: SparkSession, sf_dir: str, audit: bool = True
) -> DataFrame:
    """``audit=True`` (registered): the tolerance-banded QA panel —
    sketches AND their exact counterparts, verdict booleans. The exact
    legs are inherently corpus-linear (distinct-shuffle + full-sort
    percentile), which is exactly the cost the sketches exist to avoid;
    at 100 TB the flip is ``audit=False`` — the sketch-only production
    form (one partial+final agg, no exact legs), with the audit run on
    a bounded slice instead (test_queries_extra.py pins the two forms'
    sketch columns identical)."""
    li = load(spark, sf_dir, "lineitem")
    # Legs are SPLIT, not fused: count_distinct fused with other aggs
    # forces an Expand (row multiplication by the agg count) and the
    # exact percentile drags every column through its sort buffer —
    # probed 10.4 s at sf0.1 fused vs ~1.1 s split. Each leg shuffles
    # only its own columns; the join key is the 6-row group domain.
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("apx_nd"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx_p50"),
        F.count(F.lit(1)).alias("cnt"),
    )
    if not audit:
        return sk
    nd = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_nd"))
    )
    p50 = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50")
    )
    g = sk.join(nd, "l_returnflag").join(p50, "l_returnflag")
    return g.select(
        "l_returnflag",
        "cnt",
        "exact_nd",
        F.col("exact_p50").cast("double").alias("exact_p50"),
        (
            F.abs(F.col("apx_nd") - F.col("exact_nd"))
            <= 0.10 * F.col("exact_nd")
        ).alias("nd_within_band"),
        (
            F.abs(F.col("apx_p50") - F.col("exact_p50"))
            <= 0.01 * F.col("exact_p50")
        ).alias("p50_within_band"),
    )


register(q49_approx_aggregates, """
SELECT l_returnflag,
       COUNT(*) AS cnt,
       COUNT(DISTINCT l_partkey) AS exact_nd,
       CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS exact_p50,
       ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
         <= 0.10 * COUNT(DISTINCT l_partkey) AS nd_within_band,
       ABS(approx_quantile(l_extendedprice, 0.5)
           - quantile_cont(l_extendedprice, 0.5))
         <= 0.01 * quantile_cont(l_extendedprice, 0.5) AS p50_within_band
FROM lineitem GROUP BY l_returnflag
""")


# ---------------------------------------------------------------------------
# Q50 — cube + grouping_id (the full grouping-sets surface beyond q14's
# rollup; Blink planner SQL, SURVEY §2.H): all 4 grouping combinations of
# (returnflag, linestatus) with the grouping bitmask distinguishing them.
# ---------------------------------------------------------------------------
def q50_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
            F.grouping_id().alias("gid"),
        )
    )


register(q50_cube_grouping_id, f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS cnt,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
