"""TPC-H-inspired workload, part 2: the subquery-heavy shapes.

Complements workloads/tpch_like.py with the classic query forms that
revolve around correlated / nested subqueries, adapted to the fixture
star schema (no partsupp table, no commit/receipt dates — adaptations
noted per query):

- q2-like  : per-group argmin (correlated MIN subquery) → window rank
- q6-like  : pure scan-range aggregate (the classic pushdown showcase)
- q9-like  : multi-join profit rollup (cost proxied by p_retailprice)
- q11-like : value-share threshold vs a global scalar subquery
- q13-like : outer-join distribution with a join-condition filter
- q15-like : scalar-subquery max over an aggregated CTE
- q16-like : NOT IN exclusion + COUNT(DISTINCT) rollup
- q17-like : correlated per-part average threshold
- q20-like : nested IN chain → aggregate-then-semi-join
- q21-like : EXISTS/NOT EXISTS pair → single-pass conditional distincts

Scale notes: every query keeps the big fact table (lineitem) on the
probe side of broadcast joins against dims; the correlated subqueries
are rewritten as one extra aggregate + broadcast join back (no
re-scan of the fact per outer row, which is what a naive correlated
execution would do); q21 folds the double-EXISTS into ONE grouped pass
over the order's lines (two conditional COUNT DISTINCTs) instead of two
self-joins of lineitem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import (
    exact_avg,
    exact_decimal_sum,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
)

# --- q2-like: cheapest-balance supplier per ECONOMY part ---------------------
# TPC-H q2's correlated MIN(ps_supplycost) becomes: among suppliers that
# actually shipped the part (distinct pairs from lineitem — the partsupp
# stand-in), pick the one with minimal s_acctbal (tie → min suppkey).


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 16)
    )
    supplier = read_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "p_brand", "s_name", "s_acctbal")
    )


_Q2_SQL = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT p_partkey, p_name, p_brand, s_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal, s_suppkey) AS rn
  FROM ps
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_type = 'ECONOMY' AND p_size < 16
)
SELECT p_partkey, p_name, p_brand, s_name, s_acctbal FROM ranked WHERE rn = 1
"""


# --- q6-like: forecast revenue change (scan-range aggregate) -----------------
# The canonical predicate-pushdown showcase: all three filters reach the
# parquet scan, the agg is a single partial-then-final exact sum.


def q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(exact_sum("l_extendedprice * l_discount", "revenue"))
    )


_Q6_SQL = f"""
SELECT {exact_sum_sql("l_extendedprice * l_discount", "revenue")}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --- q9-like: nation profit rollup ------------------------------------------
# No partsupp → supply cost proxied as 0.9 * p_retailprice per unit
# (documented adaptation; keeps q9's plan shape: fact ⋈ 3 dims → 2-key
# rollup). The profit expression is evaluated per-row in double on both
# engines (identical IEEE result), then decimal-summed.


def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    profit = "l_extendedprice * (1 - l_discount) - 0.9 * p_retailprice * l_quantity"
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(exact_sum(profit, "sum_profit"))
    )


_Q9_SQL = f"""
SELECT n_name AS nation, EXTRACT(year FROM l_shipdate) AS o_year,
       {exact_sum_sql(
           "l_extendedprice * (1 - l_discount) - 0.9 * p_retailprice * l_quantity",
           "sum_profit",
       )}
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# --- q13-like: customer order-count distribution -----------------------------
# The outer-join-with-condition shape: the priority filter belongs in the
# JOIN CONDITION (a WHERE would silently turn the outer join inner and
# drop zero-order customers from the histogram).


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    cond = (customer.c_custkey == orders.o_custkey) & (
        orders.o_orderpriority != "1-URGENT"
    )
    return (
        customer.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_Q13_SQL = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist FROM c_orders GROUP BY c_count
"""


# --- q15-like: top-revenue supplier via scalar-subquery max ------------------
# Revenue stays DECIMAL through the max-equality comparison (exact on
# both engines); cast to double only on output.

_Q15_LO, _Q15_HI = "1998-01-01", "1998-07-01"


def q15_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_Q15_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q15_HI).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            exact_decimal_sum("l_extendedprice * (1 - l_discount)").alias("r")
        )
    )
    top = rev.agg(F.max("r").alias("top_r"))
    supplier = read_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), F.col("r") == F.col("top_r"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue")
        )
    )


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_LO} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{_Q15_HI} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
"""


# --- q16-like: supplier variety per brand/size, with NOT IN exclusion --------


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    excluded = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").endswith("7")
    )
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    return (
        read_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = 'ECONOMY'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_size
"""


# --- q17-like: small-quantity revenue below the per-part average -------------
# The correlated AVG becomes one grouped aggregate + a broadcast join
# back onto the fact — the per-part average is computed once, not per
# outer row. The average uses the exact decimal-sum/count form so the
# 0.5 * avg threshold is bit-identical on both engines.


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part_avg = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        exact_avg("l_quantity", "avg_qty")
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(per_part_avg), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                exact_sum("l_extendedprice")
                / 7.0
            ).alias("avg_yearly"),
        )
    )


_Q17_SQL = f"""
WITH pa AS (
  SELECT l_partkey AS pk, {exact_avg_sql("l_quantity", "avg_qty")}
  FROM lineitem GROUP BY pk
)
SELECT COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pk
WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty
"""


# --- q20-like: suppliers who moved excess widget volume in 1998 --------------
# The nested-IN chain (suppliers IN (… partsupp IN (… parts …))) becomes:
# filter parts → aggregate fact per (supp, part) → threshold → semi-join
# suppliers. Quantity sums go through decimal so the > threshold
# comparison can't flip on accumulation order.

_Q20_QTY = 80


def q20_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    widget_parts = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    heavy = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .join(
            F.broadcast(widget_parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(exact_sum("l_quantity", "qty"))
        .filter(F.col("qty") > _Q20_QTY)
        .select("l_suppkey")
        .distinct()
    )
    return (
        read_table(spark, sf_dir, "supplier")
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


_Q20_SQL = f"""
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) > {_Q20_QTY}
)
"""


# --- q21-like: the sole late supplier of a multi-supplier order --------------
# No commit/receipt dates in the fixture → "late" is shipped more than
# 60 days after the order date. q21's EXISTS(other supplier) AND NOT
# EXISTS(other LATE supplier) pair collapses into one grouped pass over
# each order's lines: distinct-supplier count > 1, distinct-LATE-supplier
# count = 1, and the MAX over the late-supplier CASE identifies the
# culprit (well-defined exactly because that distinct count is 1). One
# shuffle instead of two lineitem self-joins.


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lineitem = read_table(spark, sf_dir, "lineitem")
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(late_supp).alias("n_late"),
            F.max(late_supp).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supplier = read_table(spark, sf_dir, "supplier")
    return (
        per_order.join(
            F.broadcast(supplier), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


_Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# --- q11-like: important parts by value share --------------------------------
# No partsupp → a part's "stock value" for one nation's suppliers is the
# shipped revenue sum from lineitem. q11's scalar subquery (global total
# × fraction) becomes a 1-row aggregate broadcast-cross-joined back —
# the fact is scanned once, per-part sums are reused for the total, and
# the threshold compare happens after exact DECIMAL summation (one
# deterministic cast to double per side, so the > is order-insensitive).


def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    supplier = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    per_part = (
        read_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            exact_decimal_sum("l_extendedprice * (1 - l_discount)").alias(
                "value_dec"
            )
        )
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(0.001)
        )
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
    )


_Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
           AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM per_part,
     (SELECT SUM(value_dec) AS total_dec FROM per_part) AS t
WHERE CAST(value_dec AS DOUBLE) > CAST(total_dec AS DOUBLE) * 0.001
"""


QUERIES = {
    "q2_min_acctbal_supplier": q2_min_acctbal_supplier,
    "q11_important_part_values": q11_important_part_values,
    "q6_forecast_revenue_change": q6_forecast_revenue_change,
    "q9_nation_profit": q9_nation_profit,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q15_top_revenue_supplier": q15_top_revenue_supplier,
    "q16_supplier_variety": q16_supplier_variety,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q20_excess_volume_suppliers": q20_excess_volume_suppliers,
    "q21_sole_late_supplier": q21_sole_late_supplier,
}

ORACLE = {
    "q2_min_acctbal_supplier": _Q2_SQL,
    "q11_important_part_values": _Q11_SQL,
    "q6_forecast_revenue_change": _Q6_SQL,
    "q9_nation_profit": _Q9_SQL,
    "q13_customer_order_distribution": _Q13_SQL,
    "q15_top_revenue_supplier": _Q15_SQL,
    "q16_supplier_variety": _Q16_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q20_excess_volume_suppliers": _Q20_SQL,
    "q21_sole_late_supplier": _Q21_SQL,
}
