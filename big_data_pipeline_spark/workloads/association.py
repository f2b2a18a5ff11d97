"""Market-basket association over orders (co-occurrence, support, lift).

The classic frequent-itemset / association-rule primitive (Agrawal &
Srikant, VLDB 1994) at the pairwise level: treating each order as a
basket of its distinct parts, rank part pairs by lift — how much more
often two parts ship together than independence predicts. The same
shape powers "documents that co-cite", "tokens that co-occur", and
feature co-selection audits in a training-data pipeline.

Scale (100 TB): the pair enumeration is a self-equi-join on the basket
key, so its fan-out is sum over baskets of k*(k-1)/2 with k = basket
size — bounded by the order schema (a TPC-H-ish order has ~4-7 lines),
NOT by corpus size; there is no cross join anywhere. Item frequencies
are one map-side-combinable count; the basket total is a broadcast
1-row scalar. The final top-k goes through TakeOrderedAndProject, never
a global sort. A basket source with unbounded k (pathological carts)
would cap k per basket first, the same guard token_cooccurrence_topk
uses (workloads/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import exact_sum

_MIN_PAIR_SUPPORT = 2
_TOP_K = 100
# one shared arithmetic text: identical IEEE op stream in both engines
_LIFT = "CAST(n_pair AS DOUBLE) * n_orders / n1 / n2"
_SUPPORT = "CAST(n_pair AS DOUBLE) / n_orders"


def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    item_n = baskets.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part1"),
            F.col("b.l_partkey").alias("part2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MIN_PAIR_SUPPORT)
    )
    n1 = item_n.select(
        F.col("part").alias("part1"), F.col("n_item").alias("n1")
    )
    n2 = item_n.select(
        F.col("part").alias("part2"), F.col("n_item").alias("n2")
    )
    return (
        pairs.join(n1, "part1")
        .join(n2, "part2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part1",
            "part2",
            "n_pair",
            "n1",
            "n2",
            F.expr(_SUPPORT).alias("support"),
            F.expr(_LIFT).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part1", "part2")
        .limit(_TOP_K)
    )


_AFFINITY_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item_n AS (
  SELECT l_partkey AS part, COUNT(*) AS n_item FROM baskets GROUP BY l_partkey
),
totals AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets
),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
)
SELECT part1, part2, n_pair, n1, n2,
       {_SUPPORT} AS support,
       {_LIFT} AS lift
FROM pairs
JOIN (SELECT part AS part1, n_item AS n1 FROM item_n) USING (part1)
JOIN (SELECT part AS part2, n_item AS n2 FROM item_n) USING (part2)
CROSS JOIN totals
ORDER BY lift DESC, part1, part2
LIMIT {_TOP_K}
"""


# --- item-item collaborative-filtering cosine -------------------------------

_CF_CAP = 20  # top parts kept per customer (see docstring)
_CF_K = 5
_CF_MIN_USERS = 2


def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al., WWW 2001): for
    every part, the ``_CF_K`` most similar parts by cosine over the
    customer-quantity rating matrix (rating = a customer's total
    ordered quantity of a part, capped to each customer's ``_CF_CAP``
    heaviest parts).

    The per-customer cap is the standard CF skew guard AND the 100 TB
    guarantee: pair fan-out is sum over users of m*(m-1) with m <=
    ``_CF_CAP``, i.e. linear in users with a constant factor — an
    unbounded heavy user would otherwise contribute quadratic pairs
    (same failure mode salting addresses in joins). Ratings and the
    pair products sum through the exact-sum kernel so cosine is
    order-insensitive and cross-engine exact; norms are computed from
    the SAME capped rating set, so cosine <= 1 holds exactly.
    """
    ratings_raw = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            read_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .repartition(F.col("o_custkey"))
        .groupBy("o_custkey", "l_partkey")
        .agg(
            exact_sum("l_quantity", "r")
        )
    )
    from pyspark.sql import Window

    wcap = Window.partitionBy("o_custkey").orderBy(
        F.desc("r"), F.asc("l_partkey")
    )
    # the capped subtree feeds six plan branches (self-join sides, the
    # mirror union, both norm joins) — Spark's ReusedExchange dedups
    # the repeated shuffles, so no materialization is needed (measured:
    # localCheckpoint here is a net loss at sf0.1)
    ratings = (
        ratings_raw.withColumn("cap_rn", F.row_number().over(wcap))
        .filter(F.col("cap_rn") <= _CF_CAP)
        .select("o_custkey", "l_partkey", "r")
    )
    norms = ratings.groupBy(F.col("l_partkey")).agg(
        exact_sum("r * r", "sqn")
    )
    a = ratings.select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("part_i"),
        F.col("r").alias("ri"),
    )
    b = ratings.select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("part_j"),
        F.col("r").alias("rj"),
    )
    # aggregate ONE orientation (i < j) and mirror the aggregated pairs:
    # cosine/support are symmetric, so this halves the pre-agg shuffle —
    # the dominant cost, since pair rows are near-unique and get almost
    # no map-side combine
    pairs_lt = (
        a.join(b, "u")
        .filter(F.col("part_i") < F.col("part_j"))
        .groupBy("part_i", "part_j")
        .agg(
            F.count(F.lit(1)).alias("n_common_users"),
            exact_sum("ri * rj", "num"),
        )
        .filter(F.col("n_common_users") >= _CF_MIN_USERS)
    )
    pairs = pairs_lt.unionByName(
        pairs_lt.select(
            F.col("part_j").alias("part_i"),
            F.col("part_i").alias("part_j"),
            "n_common_users",
            "num",
        )
    )
    scored = (
        pairs.join(
            norms.select(F.col("l_partkey").alias("part_i"), F.col("sqn").alias("sqn_i")),
            "part_i",
        )
        .join(
            norms.select(F.col("l_partkey").alias("part_j"), F.col("sqn").alias("sqn_j")),
            "part_j",
        )
        .withColumn(
            "cosine",
            F.col("num") / (F.sqrt("sqn_i") * F.sqrt("sqn_j")),
        )
    )
    wk = Window.partitionBy("part_i").orderBy(F.desc("cosine"), F.asc("part_j"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _CF_K)
        .select("part_i", "rank", "part_j", "n_common_users", "cosine")
    )


def _cf_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    r_sum = _dec_to_double_sql("SUM(CAST(l_quantity AS DECIMAL(38,6)))")
    sqn_sum = _dec_to_double_sql("SUM(CAST(r * r AS DECIMAL(38,6)))")
    num_sum = _dec_to_double_sql("SUM(CAST(a.r * b.r AS DECIMAL(38,6)))")
    return f"""
WITH ratings_raw AS (
  SELECT o.o_custkey, l.l_partkey, {r_sum} AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_partkey
),
ratings AS (
  SELECT o_custkey, l_partkey, r FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY r DESC, l_partkey ASC) AS cap_rn
    FROM ratings_raw
  ) WHERE cap_rn <= {_CF_CAP}
),
norms AS (
  SELECT l_partkey, {sqn_sum} AS sqn FROM ratings GROUP BY l_partkey
),
pairs_lt AS (
  SELECT a.l_partkey AS part_i, b.l_partkey AS part_j,
         COUNT(*) AS n_common_users, {num_sum} AS num
  FROM ratings a JOIN ratings b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_CF_MIN_USERS}
),
pairs AS (
  SELECT part_i, part_j, n_common_users, num FROM pairs_lt
  UNION ALL
  SELECT part_j AS part_i, part_i AS part_j, n_common_users, num
  FROM pairs_lt
),
scored AS (
  SELECT p.part_i, p.part_j, p.n_common_users,
         p.num / (sqrt(ni.sqn) * sqrt(nj.sqn)) AS cosine
  FROM pairs p
  JOIN norms ni ON ni.l_partkey = p.part_i
  JOIN norms nj ON nj.l_partkey = p.part_j
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY part_i
                               ORDER BY cosine DESC, part_j ASC) AS "rank"
  FROM scored
)
SELECT part_i, "rank", part_j, n_common_users, cosine
FROM ranked WHERE "rank" <= {_CF_K}
"""


# --- copurchase_link_prediction: resource-allocation index ------------------

_RA_CAP = 20  # neighbors kept per wedge middle (see docstring)
_RA_TOP_K = 100


def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph via the
    resource-allocation index (Zhou, Lü & Zhang 2009): for part pairs
    with NO co-purchase edge, score = sum over common neighbors z of
    1/deg(z) — hub-discounted shared context, the same family as
    Adamic-Adar (whose 1/ln(deg) weight is monotone-equivalent here but
    ln() is not correctly-rounded identically across engines, so the
    rational 1/deg form is the cross-checkable one; cf.
    bigram_lm_quality's same dodge).

    Scale (100 TB): edges inherit the basket-bounded fan-out of
    ``part_affinity_lift`` (k*(k-1)/2 per order, k = basket size).
    Wedge enumeration through a middle z is deg(z)^2 — quadratic in hub
    degree — so each node's adjacency is capped to its ``_RA_CAP``
    strongest neighbors (by co-purchase count, id tie-break) BEFORE the
    wedge self-join, bounding wedges at nodes * cap^2, linear in graph
    size. Scoring weights use the TRUE pre-cap degree. 1/deg terms
    accumulate as DECIMAL(38,6) (order-insensitive, equal both
    engines); existing edges leave via a left-anti equi-join; the final
    top-k is TakeOrderedAndProject, never a global sort.
    """
    baskets = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part1"),
            F.col("b.l_partkey").alias("part2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MIN_PAIR_SUPPORT)
        # materialize the support-filtered pair table once: it fans out
        # into both adj_dir orientations, deg, adj and the final
        # anti-join — without the cut the basket self-join + aggregate
        # replays per consumer (the before-plan scanned lineitem 28×).
        # Already the REDUCED frame (pairs with support ≥ 2, far
        # smaller than the exploded wedge input), so caching it is the
        # guide's materialize-the-proxy move, valid at any scale.
        .localCheckpoint(eager=True)
    )
    adj_dir = edges.select(
        F.col("part1").alias("node"), F.col("part2").alias("nbr"), "n_pair"
    ).unionByName(
        edges.select(
            F.col("part2").alias("node"), F.col("part1").alias("nbr"), "n_pair"
        )
    )
    deg = adj_dir.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    from pyspark.sql import Window

    wcap = Window.partitionBy("node").orderBy(F.desc("n_pair"), F.asc("nbr"))
    adj = (
        adj_dir.withColumn("cap_rn", F.row_number().over(wcap))
        .filter(F.col("cap_rn") <= _RA_CAP)
        .select("node", "nbr")
    )
    left = adj.select(F.col("node").alias("z"), F.col("nbr").alias("pu"))
    right = adj.select(F.col("node").alias("z"), F.col("nbr").alias("pw"))
    wedges = left.join(right, "z").filter(F.col("pu") < F.col("pw"))
    scored = (
        wedges.join(deg.select(F.col("node").alias("z"), "deg"), "z")
        .groupBy(F.col("pu").alias("part1"), F.col("pw").alias("part2"))
        .agg(
            F.count(F.lit(1)).alias("n_common_neighbors"),
            exact_sum("1.0D / deg", "ra_score"),
        )
    )
    pred = scored.join(edges.select("part1", "part2"), ["part1", "part2"], "left_anti")
    return pred.orderBy(
        F.desc("ra_score"), "part1", "part2"
    ).limit(_RA_TOP_K)


_RA_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
),
adj_dir AS (
  SELECT part1 AS node, part2 AS nbr, n_pair FROM edges
  UNION ALL
  SELECT part2 AS node, part1 AS nbr, n_pair FROM edges
),
deg AS (SELECT node, COUNT(*) AS deg FROM adj_dir GROUP BY node),
adj AS (
  SELECT node, nbr FROM (
    SELECT node, nbr, ROW_NUMBER() OVER (PARTITION BY node
             ORDER BY n_pair DESC, nbr ASC) AS cap_rn
    FROM adj_dir
  ) WHERE cap_rn <= {_RA_CAP}
),
wedges AS (
  SELECT l.node AS z, l.nbr AS pu, r.nbr AS pw
  FROM adj l JOIN adj r ON l.node = r.node AND l.nbr < r.nbr
),
scored AS (
  SELECT pu AS part1, pw AS part2,
         COUNT(*) AS n_common_neighbors,
         CAST(CAST(SUM(CAST(1.0 / deg AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           AS ra_score
  FROM wedges JOIN deg ON deg.node = wedges.z
  GROUP BY pu, pw
)
SELECT part1, part2, n_common_neighbors, ra_score
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM edges e WHERE e.part1 = s.part1 AND e.part2 = s.part2
)
ORDER BY ra_score DESC, part1, part2
LIMIT {_RA_TOP_K}
"""


# --- part_triple_support: frequent 3-itemsets -------------------------------

_TRIPLE_TOP_K = 100


def part_triple_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining at the Apriori candidate level
    (Agrawal & Srikant 1994 extended past pairs): part triples that
    ship together in at least ``_MIN_PAIR_SUPPORT`` orders, with their
    support. The pair → triple step is where naive basket mining
    explodes; here the enumeration is two self-equi-joins on the
    basket key with a strict ``<`` chain, so fan-out per basket is
    C(k,3) with k = basket size — bounded by the order schema (~4-7
    lines), linear in orders. An unbounded-k source would cap baskets
    first (token_cooccurrence_topk's guard). Counts are one
    map-side-combinable groupBy; the basket total is a broadcast 1-row
    scalar; top-k via TakeOrderedAndProject.
    """
    baskets = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a, b, c = baskets.alias("a"), baskets.alias("b"), baskets.alias("c")
    triples = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("b.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part1"),
            F.col("b.l_partkey").alias("part2"),
            F.col("c.l_partkey").alias("part3"),
        )
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= _MIN_PAIR_SUPPORT)
    )
    return (
        triples.crossJoin(F.broadcast(n_orders))
        .select(
            "part1",
            "part2",
            "part3",
            "n_baskets",
            (F.col("n_baskets").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
        )
        .orderBy(F.desc("n_baskets"), "part1", "part2", "part3")
        .limit(_TRIPLE_TOP_K)
    )


_TRIPLE_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
totals AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets
),
triples AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2, c.l_partkey AS part3,
         COUNT(*) AS n_baskets
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
  JOIN baskets c ON b.l_orderkey = c.l_orderkey
                AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
)
SELECT part1, part2, part3, n_baskets,
       CAST(n_baskets AS DOUBLE) / n_orders AS support
FROM triples CROSS JOIN totals
ORDER BY n_baskets DESC, part1, part2, part3
LIMIT {_TRIPLE_TOP_K}
"""


# --- cf_hitrate_eval: temporal-split recommender evaluation -----------------
# The offline eval harness every recommender ships with: train on
# orders BEFORE the cutoff, recommend each segment its top-K most
# popular parts, and measure hit-rate@K on the customers who ordered
# AFTER the cutoff (fraction with at least one recommended part in
# their future basket). Popularity-per-segment is the standard
# baseline the CF models above have to beat — putting the EVAL next
# to the model ops makes the family complete.
#
# Scale shape: train popularity is one (segment, part) count with
# map-side combine; top-K per segment runs through a rank window on
# the aggregated (small) frame — WindowGroupLimit applies; the test
# join hits the top-K frame (|segments| × K rows, broadcast). Hits
# collapse per customer before the per-segment rollup, all keyed —
# no cross join, nothing driver-side.

_HITRATE_CUT = "1998-01-01 00:00:00"
_HITRATE_K = 10


def cf_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    lines = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    cut = F.lit(_HITRATE_CUT).cast("timestamp")
    baskets = orders.join(lines, "o_orderkey").join(cust, "o_custkey")
    train = baskets.filter(F.col("o_orderdate") < cut)
    test = baskets.filter(F.col("o_orderdate") >= cut)

    pop = train.groupBy("c_mktsegment", "l_partkey").agg(
        F.count(F.lit(1)).alias("n_buys")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n_buys"), F.asc("l_partkey")
    )
    topk = (
        pop.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _HITRATE_K)
        .select("c_mktsegment", "l_partkey")
    )
    test_users = test.select("o_custkey", "c_mktsegment").distinct()
    hits = (
        test.join(F.broadcast(topk), ["c_mktsegment", "l_partkey"])
        .select("o_custkey", "c_mktsegment")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        test_users.join(hits, ["o_custkey", "c_mktsegment"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_users"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("hitrate_at_k"),
        )
    )


_HITRATE_SQL = f"""
WITH baskets AS (
  SELECT o.o_custkey, o.o_orderdate, l.l_partkey, c.c_mktsegment
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
train AS (SELECT * FROM baskets
          WHERE o_orderdate < TIMESTAMP '{_HITRATE_CUT}'),
test AS (SELECT * FROM baskets
         WHERE o_orderdate >= TIMESTAMP '{_HITRATE_CUT}'),
topk AS (
  SELECT c_mktsegment, l_partkey FROM (
    SELECT c_mktsegment, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY COUNT(*) DESC, l_partkey ASC) AS rn
    FROM train GROUP BY c_mktsegment, l_partkey
  ) WHERE rn <= {_HITRATE_K}
),
test_users AS (SELECT DISTINCT o_custkey, c_mktsegment FROM test),
hits AS (
  SELECT DISTINCT t.o_custkey, t.c_mktsegment
  FROM test t JOIN topk k
    ON k.c_mktsegment = t.c_mktsegment AND k.l_partkey = t.l_partkey
)
SELECT u.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_test_users,
       CAST(SUM(CASE WHEN h.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN h.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS hitrate_at_k
FROM test_users u
LEFT JOIN hits h
  ON h.o_custkey = u.o_custkey AND h.c_mktsegment = u.c_mktsegment
GROUP BY u.c_mktsegment
"""


# --- association_rules_conf: directed rules from the pair table --------------
# The step after pair mining (Agrawal & Srikant): orient each frequent
# pair into BOTH rules A→B and B→A with confidence = supp(AB)/supp(A)
# — the deployable "customers who bought A also bought B" artifact.
# Reuses the exact pair/item counts; confidence and lift are single
# double divisions of integers, so the ranking is cell-exact. Top
# rules by confidence via TakeOrderedAndProject.

_RULES_MIN_CONF = 0.08  # max conf on this corpus ~0.14; 0.08 keeps a real top set
_RULES_TOP = 50


def association_rules_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    item_n = baskets.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MIN_PAIR_SUPPORT)
    )
    directed = pairs.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "n_pair",
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "n_pair",
        )
    )
    n_ante = item_n.select(
        F.col("part").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    conf = F.col("n_pair").cast("double") / F.col("n_ante")
    return (
        directed.join(n_ante, "antecedent")
        .select("antecedent", "consequent", "n_pair", "n_ante",
                conf.alias("confidence"))
        .filter(conf >= _RULES_MIN_CONF)
        .orderBy(F.desc("confidence"), "antecedent", "consequent")
        .limit(_RULES_TOP)
    )


_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item_n AS (
  SELECT l_partkey AS part, COUNT(*) AS n_item FROM baskets GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT}
),
directed AS (
  SELECT p1 AS antecedent, p2 AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT p2 AS antecedent, p1 AS consequent, n_pair FROM pairs
)
SELECT antecedent, consequent, n_pair,
       CAST(n_item AS BIGINT) AS n_ante,
       CAST(n_pair AS DOUBLE) / n_item AS confidence
FROM directed JOIN item_n ON part = antecedent
WHERE CAST(n_pair AS DOUBLE) / n_item >= {_RULES_MIN_CONF}
ORDER BY confidence DESC, antecedent, consequent
LIMIT {_RULES_TOP}
"""


QUERIES = {
    "association_rules_conf": association_rules_conf,
    "cf_hitrate_eval": cf_hitrate_eval,
    "part_affinity_lift": part_affinity_lift,
    "item_item_cosine_topk": item_item_cosine_topk,
    "copurchase_link_prediction": copurchase_link_prediction,
    "part_triple_support": part_triple_support,
}
ORACLE = {
    "association_rules_conf": _RULES_SQL,
    "cf_hitrate_eval": _HITRATE_SQL,
    "part_affinity_lift": _AFFINITY_SQL,
    "item_item_cosine_topk": _cf_sql(),
    "copurchase_link_prediction": _RA_SQL,
    "part_triple_support": _TRIPLE_SQL,
}
