"""Advanced relational workload: the operator surface a reference user
would expect from a full engine (SURVEY.md §2.3 capability proof plus
§2.5-§2.8 extensions): outer/semi/anti joins, rollup/cube, set ops,
correlated aggregates, ranking windows, sliding frames, exact
percentiles, conditional aggregation, date arithmetic, regexp, argmax,
and ordered string aggregation.

Scale notes (100 TB):
- Semi/anti joins broadcast the filtered orders side when small; at
  scale Catalyst picks shuffled hash — either way no data explosion, a
  semi join never duplicates rows.
- rollup/cube expand each input row into (levels) grouping combinations
  *after* partial aggregation — map-side combine still collapses first.
- All window queries partition by a key; no global-order windows exist
  here (a rank over an unpartitioned window would single-task at scale).
- Percentiles use the exact ``percentile`` aggregate; at 100 TB swap to
  ``approx_percentile(…, accuracy)`` — same plan shape, bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import (
    DEC,
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
)

# --- anti join: customers that never ordered --------------------------------


def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- semi join: customers with at least one open order ----------------------


def semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    open_orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return customer.join(
        open_orders, customer.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


# --- left outer join + null-safe aggregation --------------------------------


def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            # COUNT(col) skips nulls → 0 for order-less customers
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(exact_sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


_LEFT_JOIN_SQL = """
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE), 0.0)
         AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


# --- rollup: subtotals + grand total ----------------------------------------


def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "revenue"),
        )
    )


_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {exact_sum_sql("o_totalprice", "revenue")}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --- cube over status x order-year ------------------------------------------


def cube_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .cube("o_orderstatus", "order_year")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_CUBE_SQL = """
SELECT o_orderstatus, year(o_orderdate) AS order_year, COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, year(o_orderdate))
"""


# --- GROUPING SETS: explicit multi-grain aggregate ---------------------------
# The general form behind cube/rollup: one shuffle computes exactly the
# grains asked for — (status, priority), (status), () — instead of the
# full 2^n cube. grouping_id disambiguates the NULL-as-rollup rows from
# genuine NULL keys, which matters on nullable dimension columns.


def grouping_sets_status_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("grain"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "revenue"),
        )
    )


_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS grain,
       COUNT(*) AS n_orders,
       {exact_sum_sql("o_totalprice", "revenue")}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# --- ntile: equi-depth bucketing into quartiles ------------------------------
# NTILE's bucket-boundary rule (first n_rows % n buckets get the extra
# row) is identical in Spark and DuckDB; ties are pinned with the key
# so both engines see the same total order.


def ntile_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        read_table(spark, sf_dir, "customer")
        .withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
    )


_NTILE_SQL = """
WITH q AS (
  SELECT c_mktsegment, c_acctbal,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile, COUNT(*) AS n_customers,
       MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
FROM q GROUP BY c_mktsegment, quartile
"""


# --- set ops: INTERSECT / EXCEPT (distinct semantics) -----------------------


def intersect_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust)


_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def except_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    # subtract = EXCEPT DISTINCT (exceptAll keeps surplus multiplicity)
    return f_cust.subtract(o_cust)


_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


# --- correlated aggregate: orders above their customer's average ------------


def above_customer_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust_avg = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        exact_avg("o_totalprice", "cust_avg")
    )
    return (
        orders.join(cust_avg, orders.o_custkey == cust_avg.k)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


_ABOVE_AVG_SQL = f"""
WITH ca AS (
  SELECT o_custkey AS k, {exact_avg_sql("o_totalprice", "cust_avg")}
  FROM orders GROUP BY o_custkey
)
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
FROM orders JOIN ca ON o_custkey = k
WHERE o_totalprice > cust_avg
"""


# --- ranking windows: row_number / rank / dense_rank / ntile ----------------


def customer_rank_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


_RANK_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# --- sliding frame: moving sum of the last 4 events per user ----------------


def moving_sum_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("moving_sum"),
    )


_MOVING_SUM_SQL = """
SELECT event_id, user_id, ts,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS moving_sum
FROM events
"""


# --- conditional aggregation + CASE bucketing --------------------------------


def price_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        read_table(spark, sf_dir, "orders")
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
            F.sum(
                F.when(
                    F.col("o_orderpriority").startswith("1"), 1
                ).otherwise(0)
            ).alias("n_urgent"),
        )
    )


_BUCKET_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_finished,
       CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_urgent
FROM orders
GROUP BY 1
"""


# --- exact percentiles per group --------------------------------------------


def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("p50"),
            F.percentile("l_quantity", 0.9).alias("p90"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
        )
    )


_PERCENTILE_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.9) AS p90,
       MIN(l_quantity) AS qmin,
       MAX(l_quantity) AS qmax
FROM lineitem
GROUP BY l_returnflag
"""


# --- date arithmetic ---------------------------------------------------------


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        # cast: DuckDB date_trunc('month') yields DATE, Spark TIMESTAMP
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate")).alias(
            "days_to_eoy"
        ),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
        F.add_months(F.col("o_orderdate").cast("date"), 2).alias("plus_2m"),
    )


_DATE_SQL = """
SELECT o_orderkey,
       year(o_orderdate) AS y,
       month(o_orderdate) AS m,
       day(o_orderdate) AS d,
       date_trunc('month', o_orderdate) AS month_start,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
       CAST(o_orderdate AS DATE) + 30 AS plus_30d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m
FROM orders
"""


# --- regexp extract / replace ------------------------------------------------


def regexp_text_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("text", r"[aeiou]", "_").alias("devoweled_prefix"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_nonspace"),
    )


_REGEXP_SQL = r"""
SELECT doc_id,
       regexp_extract(text, '^(\w+)', 1) AS first_word,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_prefix,
       length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace
FROM documents
"""


# --- global token frequency (split + explode) --------------------------------


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(25)
    )


_VOCAB_SQL = """
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 25
"""


# --- argmax per group (max_by) ----------------------------------------------


def argmax_customer_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", "c_acctbal").alias("richest_custkey"),
            F.max("c_acctbal").alias("top_acctbal"),
        )
    )


_ARGMAX_SQL = """
SELECT c_mktsegment,
       arg_max(c_custkey, c_acctbal) AS richest_custkey,
       MAX(c_acctbal) AS top_acctbal
FROM customer
GROUP BY c_mktsegment
"""


# --- ordered string aggregation ---------------------------------------------


def nations_per_region_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


_STRING_AGG_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- time-range frame + distribution ranks ----------------------------------


def time_range_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time (trailing 1 hour per user) plus the
    distribution ranks (percent_rank / cume_dist) the ranking query
    doesn't cover. Both engines order by integer epoch-micros so the
    frame boundary arithmetic and peer groups are identical; the frame
    sum goes through decimal so intra-frame accumulation order can't
    show. Scale: one shuffle on user_id, frames evaluated in a single
    sorted pass per partition."""
    events = read_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    hour_us = 3_600_000_000
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-hour_us, Window.currentRow)
    )
    wd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(wr).alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(wr)
        .cast("double")
        .alias("sum_trailing_1h"),
        F.percent_rank().over(wd).alias("pr"),
        F.cume_dist().over(wd).alias("cd"),
    )


_TIME_RANGE_SQL = """
SELECT user_id, event_id,
       COUNT(*) OVER wr AS n_trailing_1h,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER wr AS VARCHAR) AS DOUBLE)
         AS sum_trailing_1h,
       PERCENT_RANK() OVER wd AS pr,
       CUME_DIST() OVER wd AS cd
FROM (SELECT *, epoch_us(ts) AS ts_us FROM events)
WINDOW wr AS (PARTITION BY user_id ORDER BY ts_us
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
       wd AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


# --- unpivot / melt ----------------------------------------------------------


def unpivot_price_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via DataFrame.unpivot (the inverse of the pivot
    query): the three price components become (component, value) rows,
    then a tiny aggregate per component. Unpivot is a row-local
    generator — no shuffle until the aggregate."""
    melted = read_table(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "component",
        "val",
    )
    return melted.groupBy("component").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("val", "total"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


_UNPIVOT_SQL = f"""
WITH melted AS (
  SELECT 'l_extendedprice' AS component, l_extendedprice AS val FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT component, COUNT(*) AS n, {exact_sum_sql("val", "total")},
       MIN(val) AS min_val, MAX(val) AS max_val
FROM melted GROUP BY component
"""


# --- set ops with ALL (multiset) semantics ----------------------------------
# intersect/except_customer_keys pin the DISTINCT forms; these pin the
# multiset forms — duplicate counts carry through (min for INTERSECT
# ALL, difference for EXCEPT ALL), which is what dedup accounting and
# delta reconciliation actually need. Same plan shape as the distinct
# forms: one shuffle on the compared columns, partial-agg'd counts.


def intersect_all_item_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_quantity")
    b = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    return (
        a.intersectAll(b)
        .groupBy("l_quantity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_INTERSECT_ALL_SQL = """
SELECT l_quantity, COUNT(*) AS n FROM (
  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'
  INTERSECT ALL
  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
) GROUP BY l_quantity
"""


def except_all_item_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_quantity")
    b = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    return (
        a.exceptAll(b)
        .groupBy("l_quantity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EXCEPT_ALL_SQL = """
SELECT l_quantity, COUNT(*) AS n FROM (
  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'
  EXCEPT ALL
  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
) GROUP BY l_quantity
"""


# --- nth_value / first_value / last_value frame semantics -------------------
# The remaining analytic-window family: value extraction at fixed frame
# positions, with the full-partition frame spelled explicitly (default
# frames differ between RANGE CURRENT ROW and full partition — pinning
# the frame is what makes engines agree).


def nth_order_values_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("first_price", F.first("o_totalprice").over(w))
        .withColumn("second_price", F.nth_value("o_totalprice", 2).over(w))
        .withColumn("last_price", F.last("o_totalprice").over(w))
        .groupBy("o_custkey")
        .agg(
            F.max("first_price").alias("first_price"),
            F.max("second_price").alias("second_price"),
            F.max("last_price").alias("last_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_NTH_VALUE_SQL = """
WITH v AS (
  SELECT o_custkey,
         FIRST_VALUE(o_totalprice) OVER w AS first_price,
         NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
         LAST_VALUE(o_totalprice) OVER w AS last_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey, MAX(first_price) AS first_price,
       MAX(second_price) AS second_price, MAX(last_price) AS last_price,
       COUNT(*) AS n_orders
FROM v GROUP BY o_custkey
"""


# --- nation_revenue_share: ratio-to-report contribution analysis ------------
# The BI "percent of total / percent of parent" shape: per-nation
# revenue with its share of the region and of the grand total. Shares
# come from broadcast-joined re-aggregations of the 25-row nation
# frame (NOT ratio-of-sums windows over fact rows — the aggregate is
# tiny, windows over it would be fine too, but re-aggregation keeps
# the formula text shared and the fact table is touched exactly once).
# Revenue sums route through exact decimals, divisions are engine-
# identical doubles.


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(exact_sum("l_extendedprice * (1 - l_discount)", "revenue"))
        # materialize the 25-row nation aggregate once: it fans out into
        # per_region, total and the final join, and without the cut the
        # fact-table join pipeline replays per consumer (the before-plan
        # scanned lineitem 3×) — "touched exactly once" now holds by
        # construction, not by hoping for runtime exchange reuse
        .localCheckpoint(eager=True)
    )
    per_region = per_nation.groupBy("r_name").agg(
        exact_sum("revenue", "region_rev")
    )
    total = per_nation.agg(
        exact_sum("revenue", "total_rev")
    )
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .crossJoin(F.broadcast(total))
        .select(
            "r_name",
            "n_name",
            "revenue",
            (F.col("revenue") / F.col("region_rev")).alias("share_of_region"),
            (F.col("revenue") / F.col("total_rev")).alias("share_of_total"),
        )
    )


def _nation_share_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    redec = _dec_to_double_sql("SUM(CAST(revenue AS DECIMAL(38,6)))")
    return f"""
WITH per_nation AS (
  SELECT r_name, n_name,
         {exact_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
),
per_region AS (
  SELECT r_name, {redec} AS region_rev FROM per_nation GROUP BY r_name
),
total AS (
  SELECT {redec} AS total_rev FROM per_nation
)
SELECT r_name, n_name, revenue,
       revenue / region_rev AS share_of_region,
       revenue / total_rev AS share_of_total
FROM per_nation JOIN per_region USING (r_name), total
"""


# --- customer_revenue_pareto: concentration / 80-20 analysis ----------------
# "How many customers cover 50/80/90% of revenue?" — the concentration
# question behind account tiering and risk. Needs a GLOBAL revenue-
# ordered cumulative sum — the single-task-window trap — so the
# running total comes from the sharded prefix sum over a constant
# partition. Revenue is integerized to cents first (deterministic
# ROUND on both engines): integer cumsums are association-free, so the
# sharded two-phase total equals the oracle's sequential window SUM
# exactly; shares divide two exact integers.
#
# Plan shape (r5 VERDICT fix): cum_cents AND rank ride ONE sharded
# prefix-sum pass (sharded_running_sums — same total order, two value
# columns), and the three thresholds are three conditional MINs in ONE
# aggregate over that lineage, exploded to rows afterwards. The old
# form ran the prefix-sum lineage twice and a 3-way agg union on top —
# 3× redundant compute and the top job-count amplifier in the r5
# contended driver run.


def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sums

    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
            ).alias("cents")
        )
        .withColumn("neg", -F.col("cents"))
        .withColumn("g", F.lit(0))
        # materialize the per-customer frame once: the sharded prefix
        # sum consumes it three times and the totals a fourth — each
        # replay re-ran the orders scan + groupBy. Reduced side.
        .localCheckpoint(eager=True)
    )
    ranked = sharded_running_sums(
        per_cust,
        ["g"],
        "neg",
        [(F.col("cents"), "cum_cents"), (F.lit(1), "rank")],
        tiebreak_cols=["o_custkey"],
    )
    tot = per_cust.agg(
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    joined = ranked.crossJoin(F.broadcast(tot))

    def needed(t: float):
        return F.min(
            F.when(
                F.col("cum_cents").cast("double")
                >= F.lit(t) * F.col("total_cents"),
                F.col("rank"),
            )
        ).alias(f"c{int(t * 100)}")

    agg = joined.agg(
        needed(0.5), needed(0.8), needed(0.9),
        F.first("n_cust").alias("n_customers"),
    )
    out = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("threshold"),
                        F.col(f"c{int(t * 100)}").alias("customers_needed"),
                    )
                    for t in (0.5, 0.8, 0.9)
                ]
            )
        ).alias("x"),
        "n_customers",
    )
    return out.select(
        F.col("x.threshold").alias("threshold"),
        F.col("x.customers_needed").cast("long").alias("customers_needed"),
        "n_customers",
        (
            F.col("x.customers_needed").cast("double")
            / F.col("n_customers")
        ).alias("frac_of_customers"),
    )


_PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum_cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS "rank"
  FROM per_cust
),
tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
         COUNT(*) AS n_cust
  FROM per_cust
),
thresholds AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.8 AS DOUBLE),
                              CAST(0.9 AS DOUBLE)]) AS threshold)
SELECT threshold,
       MIN(CASE WHEN CAST(cum_cents AS DOUBLE) >= threshold * total_cents
                THEN "rank" END) AS customers_needed,
       ANY_VALUE(n_cust) AS n_customers,
       CAST(MIN(CASE WHEN CAST(cum_cents AS DOUBLE)
                          >= threshold * total_cents
                     THEN "rank" END) AS DOUBLE) / ANY_VALUE(n_cust)
         AS frac_of_customers
FROM ranked, tot, thresholds
GROUP BY threshold
"""


# --- surrogate_global_seq: deterministic surrogate-key assignment -----------
# The warehouse-load ETL primitive: assign a gapless global sequence
# number to every event by (ts, event_id) order. The naive forms are
# both wrong at scale — ROW_NUMBER() over an empty PARTITION BY runs
# the whole table through ONE task, and monotonically_increasing_id()
# is partition-dependent (non-deterministic across layouts, gapped).
# The sharded prefix sum of 1s gives the exact window semantics with
# 32-way parallelism and layout-independent output; the oracle is the
# single-task window form — the driver hash-check proves the
# distributed numbering IS the sequential numbering.


def surrogate_global_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .withColumn("o", F.col("ts").cast("double"))
        # materialize the narrow (id, ts) projection once: the sharded
        # prefix sum consumes it three times (boundary probe, local
        # window, offsets), each replay a full events scan. The cache is
        # exactly the two pruned columns — one write + two reads beats
        # three parquet scans.
        .localCheckpoint(eager=True)
    )
    seq = sharded_running_sum(
        ev,
        part_cols=[],
        order_col="o",
        value_col=F.lit(1).cast("long"),
        out_col="global_seq",
        tiebreak_cols=["event_id"],
    )
    return seq.select("event_id", "ts", "global_seq")


_SURROGATE_SQL = """
SELECT event_id, ts,
       CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT)
         AS global_seq
FROM events
"""


# --- skyline_price_size: Pareto-frontier (skyline) query --------------------


def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Börzsönyi et al. 2001): the Pareto-optimal frontier of
    parts under (minimize retail price, maximize size) — no other
    point is at-most-equal price AND at-least-equal size with one
    strict. Returns frontier points with the number of parts at each.

    The naive formulation is a quadratic NOT EXISTS self-join (the
    oracle runs exactly that). The distributed plan is the 2-D
    sort-based skyline made scale-safe: dedupe to distinct
    (price, size) points, order by (price asc, size desc); a point is
    dominated iff the running max of size over STRICT predecessors
    reaches its size. That running max is a single-task global window
    in naive Spark — here it runs through
    ``operators/prefix.sharded_running_max`` (range-sharded local
    windows + a tiny per-shard prefix), so the frontier of billions of
    points computes with full parallelism and one keyed shuffle.
    """
    from big_data_pipeline_spark.operators.prefix import sharded_running_max

    pts = (
        read_table(spark, sf_dir, "part")
        .groupBy(
            F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("neg_size", -F.col("size"))
        # materialize the distinct-point frame once: the sharded running
        # max consumes it three times, each replay re-running the part
        # scan + groupBy. |distinct points|-sized.
        .localCheckpoint(eager=True)
    )
    marked = sharded_running_max(
        pts,
        part_cols=[],
        order_col="price",
        value_col="size",
        out_col="prev_max_size",
        tiebreak_cols=["neg_size"],
        inclusive=False,
    )
    return (
        marked.filter(
            F.col("prev_max_size").isNull()
            | (F.col("prev_max_size") < F.col("size"))
        )
        .select("price", "size", "n_parts")
    )


_SKYLINE_SQL = """
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS size, COUNT(*) AS n_parts
  FROM part GROUP BY 1, 2
)
SELECT price, size, n_parts
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size)
)
"""


# --- weighted_median_brand_price --------------------------------------------


def weighted_median_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group — the order statistic
    ``percentile_approx`` only approximates and plain ``median``
    ignores weights for: per part brand, the smallest line price p such
    that lines priced <= p carry at least half the total shipped
    quantity. The canonical "median price paid per unit" metric.

    Determinism & scale: quantities are whole numbers, so weights sum
    as BIGINT and the half-mass test is the integer comparison
    2*cumw >= totw — no float accumulation anywhere. Lines collapse to
    (brand, price) weight sums first (map-side combinable), so the
    cumulative window runs over DISTINCT prices per brand, not raw
    lines; part is the broadcast dim side. The qualifying-price argmin
    is a MIN aggregate, not a sort-limit.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            F.col("l_extendedprice").alias("price"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
    )
    per_price = li.groupBy("p_brand", "price").agg(F.sum("w").alias("pw"))
    wcum = (
        Window.partitionBy("p_brand")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_price.withColumn("cumw", F.sum("pw").over(wcum))
    tot = per_price.groupBy("p_brand").agg(F.sum("pw").alias("totw"))
    return (
        cum.join(tot, "p_brand")
        .filter(F.lit(2) * F.col("cumw") >= F.col("totw"))
        .groupBy("p_brand", "totw")
        .agg(F.min("price").alias("weighted_median_price"))
        .select(
            "p_brand",
            F.col("totw").alias("total_quantity"),
            "weighted_median_price",
        )
    )


_WMEDIAN_SQL = """
WITH li AS (
  SELECT p.p_brand, l.l_extendedprice AS price,
         CAST(l.l_quantity AS BIGINT) AS w
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
per_price AS (
  SELECT p_brand, price, CAST(SUM(w) AS BIGINT) AS pw FROM li GROUP BY 1, 2
),
cum AS (
  SELECT p_brand, price, pw,
         CAST(SUM(pw) OVER (PARTITION BY p_brand ORDER BY price
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
  FROM per_price
),
tot AS (SELECT p_brand, CAST(SUM(pw) AS BIGINT) AS totw FROM per_price GROUP BY 1)
SELECT c.p_brand, t.totw AS total_quantity,
       MIN(c.price) AS weighted_median_price
FROM cum c JOIN tot t USING (p_brand)
WHERE 2 * c.cumw >= t.totw
GROUP BY c.p_brand, t.totw
"""


# --- lmoments_by_priority: L-moment distribution shape per group ------------
# Hosking's L-moments (1990): location/scale/skewness from LINEAR
# combinations of order statistics — defined for heavy-tailed data
# where conventional skewness explodes, the robust profile a
# distribution-drift monitor wants next to the MAD/KS ops. Unbiased
# probability-weighted moments per group g:
#   b0 = Σ x_(r) / n,  b1 = Σ x_(r)(r-1) / (n(n-1)),
#   b2 = Σ x_(r)(r-1)(r-2) / (n(n-1)(n-2))
# then l1 = b0, l2 = 2b1 - b0, l3 = 6b2 - 6b1 + b0, t3 = l3/l2.
# Exactness: values become integer cents, ranks come from one window
# partitioned BY GROUP (never global), and the products themselves are
# 128-bit: cents is cast DECIMAL(14,0) and each rank factor
# DECIMAL(12,0) BEFORE multiplying (14+12+12 = 38 digits — covers
# $1T-cent values × 10¹²-row groups with no int64 wrap in either
# engine; non-ANSI Spark would otherwise silently wrap where DuckDB
# errors), then the sums accumulate through DECIMAL(38,0); the b's
# are one terminal division each. Ties in x
# are rank-order-insensitive (equal values commute through the
# weighted sums... weights differ per rank but the multiset of
# (value, weight) pairs is fixed by the deterministic (cents,
# o_orderkey) order, identical on both engines).


def lmoments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    ranked = orders.withColumn("r", F.row_number().over(w))
    agg = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(
            (
                F.col("cents").cast("decimal(14,0)")
                * (F.col("r") - 1).cast("decimal(12,0)")
            ).cast("decimal(38,0)")
        ).alias("s1"),
        F.sum(
            (
                F.col("cents").cast("decimal(14,0)")
                * (F.col("r") - 1).cast("decimal(12,0)")
                * (F.col("r") - 2).cast("decimal(12,0)")
            ).cast("decimal(38,0)")
        ).alias("s2"),
    )
    n = F.col("n").cast("double")
    b0 = F.col("s0").cast("double") / n
    b1 = F.col("s1").cast("double") / (n * (n - 1))
    b2 = F.col("s2").cast("double") / (n * (n - 1) * (n - 2))
    l2 = 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    return agg.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        (b0 / 100.0).alias("l1"),
        (l2 / 100.0).alias("l2"),
        (l3 / l2).alias("t3_lskewness"),
    )


_LMOMENTS_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(round(o_totalprice * 100)
                                          AS BIGINT), o_orderkey) AS r
  FROM orders
),
agg AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(SUM(cents) AS BIGINT) AS s0,
         -- HUGEINT (INT128) arithmetic: DuckDB's DECIMAL multiply
         -- evaluates in the narrower operand's physical type and
         -- overflows at sf1 where Spark's DECIMAL(38,0) is fine;
         -- HUGEINT gives the same exact 128-bit products/sums, and
         -- only the VARCHAR-routed double conversions below are
         -- compared cross-engine (identical integer strings).
         SUM(CAST(cents AS HUGEINT) * (r - 1)) AS s1,
         SUM(CAST(cents AS HUGEINT) * (r - 1) * (r - 2)) AS s2
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_orders,
       (CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS l1,
       (2 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
        - CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS l2,
       (6 * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                * (CAST(n AS DOUBLE) - 2)))
        - 6 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
        + CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE))
       / (2 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
          - CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)) AS t3_lskewness
FROM agg
"""


QUERIES = {
    "lmoments_by_priority": lmoments_by_priority,
    "weighted_median_brand_price": weighted_median_brand_price,
    "anti_join_no_orders": anti_join_no_orders,
    "skyline_price_size": skyline_price_size,
    "nation_revenue_share": nation_revenue_share,
    "customer_revenue_pareto": customer_revenue_pareto,
    "intersect_all_item_quantities": intersect_all_item_quantities,
    "except_all_item_quantities": except_all_item_quantities,
    "nth_order_values_per_customer": nth_order_values_per_customer,
    "semi_join_open_orders": semi_join_open_orders,
    "left_join_order_counts": left_join_order_counts,
    "rollup_order_revenue": rollup_order_revenue,
    "cube_status_year": cube_status_year,
    "grouping_sets_status_priority": grouping_sets_status_priority,
    "ntile_acctbal_quartiles": ntile_acctbal_quartiles,
    "intersect_customer_keys": intersect_customer_keys,
    "except_customer_keys": except_customer_keys,
    "above_customer_avg_orders": above_customer_avg_orders,
    "customer_rank_in_segment": customer_rank_in_segment,
    "moving_sum_per_user": moving_sum_per_user,
    "price_bucket_profile": price_bucket_profile,
    "quantity_percentiles": quantity_percentiles,
    "date_arithmetic": date_arithmetic,
    "regexp_text_ops": regexp_text_ops,
    "vocab_top_tokens": vocab_top_tokens,
    "argmax_customer_by_segment": argmax_customer_by_segment,
    "nations_per_region_list": nations_per_region_list,
    "time_range_window_stats": time_range_window_stats,
    "unpivot_price_components": unpivot_price_components,
    "surrogate_global_seq": surrogate_global_seq,
}

ORACLE = {
    "lmoments_by_priority": _LMOMENTS_SQL,
    "weighted_median_brand_price": _WMEDIAN_SQL,
    "surrogate_global_seq": _SURROGATE_SQL,
    "skyline_price_size": _SKYLINE_SQL,
    "nation_revenue_share": _nation_share_sql(),
    "customer_revenue_pareto": _PARETO_SQL,
    "anti_join_no_orders": _ANTI_SQL,
    "intersect_all_item_quantities": _INTERSECT_ALL_SQL,
    "except_all_item_quantities": _EXCEPT_ALL_SQL,
    "nth_order_values_per_customer": _NTH_VALUE_SQL,
    "semi_join_open_orders": _SEMI_SQL,
    "left_join_order_counts": _LEFT_JOIN_SQL,
    "rollup_order_revenue": _ROLLUP_SQL,
    "cube_status_year": _CUBE_SQL,
    "grouping_sets_status_priority": _GROUPING_SETS_SQL,
    "ntile_acctbal_quartiles": _NTILE_SQL,
    "intersect_customer_keys": _INTERSECT_SQL,
    "except_customer_keys": _EXCEPT_SQL,
    "above_customer_avg_orders": _ABOVE_AVG_SQL,
    "customer_rank_in_segment": _RANK_SQL,
    "moving_sum_per_user": _MOVING_SUM_SQL,
    "price_bucket_profile": _BUCKET_SQL,
    "quantity_percentiles": _PERCENTILE_SQL,
    "date_arithmetic": _DATE_SQL,
    "regexp_text_ops": _REGEXP_SQL,
    "vocab_top_tokens": _VOCAB_SQL,
    "argmax_customer_by_segment": _ARGMAX_SQL,
    "nations_per_region_list": _STRING_AGG_SQL,
    "time_range_window_stats": _TIME_RANGE_SQL,
    "unpivot_price_components": _UNPIVOT_SQL,
}
