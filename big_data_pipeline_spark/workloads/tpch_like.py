"""TPC-H-inspired workload, adapted to the fixture star schema.

Each query reproduces the *plan shape* of a classic TPC-H query using
the columns the corpus has (no partsupp/shipmode tables): existential
subqueries, disjunctive multi-table predicates, ratio aggregates,
grouped HAVING + IN subqueries, and scalar-subquery filters. Together
with workloads/relational.py (Q1/Q3/Q5 analogs) these pin down the
relational surface a reference user would expect.

Scale notes: every query is one or two shuffles — existential checks
are semi/anti joins (never row-duplicating), scalar subqueries
broadcast a 1-row frame, and all date/price predicates sit in the
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import exact_sum, exact_sum_sql

# --- q4-like: order-priority count with EXISTS(late lineitem) ---------------


def q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    late = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        orders.join(
            late, orders.o_orderkey == late.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
)
GROUP BY o_orderpriority
"""


# --- q7-like: bilateral trade volume between two nations by ship year -------
# Plan shape: the two nation dims and supplier/customer broadcast; the only
# shuffle is lineitem⋈orders on orderkey, then one partial-agg'd groupBy.

_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"


def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(exact_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {exact_sum_sql("volume", "revenue")}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
     OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}')
)
GROUP BY supp_nation, cust_nation, l_year
"""


# --- q8-like: one nation's market share of a region's demand by year ---------

_Q8_NATION, _Q8_REGION = "NATION_2", "ASIA"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == _Q8_REGION
    )
    # customer-side nations restricted to the region (broadcast pre-filter)
    cust_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nkey"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = "l_extendedprice * (1 - l_discount)"
    national = f"CASE WHEN supp_nation = '{_Q8_NATION}' THEN {rev} ELSE 0.0D END"
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (exact_sum(national) / exact_sum(rev)).alias("mkt_share")
        )
    )


_Q8_SQL = f"""
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN volume
                          ELSE CAST(0 AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{_Q8_REGION}'
)
GROUP BY o_year
"""


# --- q10-like: top returned-revenue customers in a quarter window -----------

_Q10_LO, _Q10_HI = "1998-01-01", "1998-07-01"


def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q10_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_HI).cast("timestamp"))
    )
    returned = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum("l_extendedprice * (1 - l_discount)", "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {exact_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{_Q10_LO} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{_Q10_HI} 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q12-like: two-bucket conditional count by urgency -----------------------


def q12_urgency_shipping_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 25)
        & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
    )
    urgent = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(urgent).alias("high_priority_count"),
            F.sum(1 - urgent).alias("low_priority_count"),
        )
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity >= 25 AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


# --- q14-like: promo revenue ratio (conditional / total) --------------------


def q14_brand_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev = "l_extendedprice * (1 - l_discount)"
    promo = f"CASE WHEN startswith(p_type, 'PROMO') THEN {rev} ELSE 0.0D END"
    joined = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        (exact_sum(promo) * 100.0 / exact_sum(rev)).alias("promo_revenue_pct")
    )


_Q14_SQL = """
SELECT CAST(CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) * 100.0
       / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


# --- q18-like: large-volume orders via grouped HAVING + IN ------------------


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big_orders.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


_Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, {exact_sum_sql("l_quantity", "total_qty")}
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
)
SELECT c_name, o_orderkey, o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- q19-like: disjunctive multi-column predicates ---------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("l_quantity") >= 10)
        & (F.col("p_size") <= 10)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & (F.col("l_quantity") >= 30)
        & (F.col("p_size") <= 25)
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(exact_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


_Q19_SQL = f"""
SELECT {exact_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity >= 10 AND p_size <= 10)
   OR (p_brand = 'Brand#3' AND l_quantity >= 30 AND p_size <= 25)
"""


# --- q22-like: above-average-balance customers idle since mid-1998 ----------
# (every fixture customer has *some* order, so the anti-join is
# time-bounded to keep the result set non-trivial)

_Q22_CUTOFF = "1998-06-01"


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp")
    )
    avg_bal = customer.agg(
        (
            exact_sum("c_acctbal")
            / F.count(F.lit(1))
        ).alias("a")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "total_bal"),
        )
    )


_Q22_SQL = f"""
WITH avg_bal AS (
  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS a
  FROM customer
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {exact_sum_sql("c_acctbal", "total_bal")}
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '{_Q22_CUTOFF} 00:00:00'
  )
GROUP BY c_mktsegment
"""


QUERIES = {
    "q4_priority_with_late_items": q4_priority_with_late_items,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q8_market_share": q8_market_share,
    "q10_returned_item_customers": q10_returned_item_customers,
    "q12_urgency_shipping_buckets": q12_urgency_shipping_buckets,
    "q14_brand_revenue_ratio": q14_brand_revenue_ratio,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_rich_customers": q22_idle_rich_customers,
}

ORACLE = {
    "q4_priority_with_late_items": _Q4_SQL,
    "q7_nation_trade_volume": _Q7_SQL,
    "q8_market_share": _Q8_SQL,
    "q10_returned_item_customers": _Q10_SQL,
    "q12_urgency_shipping_buckets": _Q12_SQL,
    "q14_brand_revenue_ratio": _Q14_SQL,
    "q18_large_volume_orders": _Q18_SQL,
    "q19_disjunctive_revenue": _Q19_SQL,
    "q22_idle_rich_customers": _Q22_SQL,
}
