"""Time-series feature engineering over the events table.

The feature set a forecasting pipeline derives from raw bars
(reference intent: the predictor trains on raw OHLCV; a production
version would train on these): per-key lag returns, rolling mean, and
rolling sample variance — all exact-decimal so the oracle hash-matches.

Variance parity trick: stddev/var aggregates are order-sensitive in
both engines; instead the rolling variance is computed from the
*closed form* (n·Σx² − (Σx)²) / (n·(n−1)) where both Σ go through
DECIMAL(38,6) accumulation — deterministic and identical across
engines, one window pass, no UDF.

Also here: ``time_rollup_multigrain`` — the hypertable-style continuous
aggregate: one pass producing hourly AND daily rollups via grouping
sets (map-side partial agg feeds both grains; cheaper than two scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import DEC, exact_sum

# --- per-user lag returns + rolling stats -----------------------------------

_WIN = 8  # rolling window (rows)


def user_value_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = order.rowsBetween(-(_WIN - 1), Window.currentRow)

    prev = F.lag("value", 1).over(order)
    ret = F.when(prev != 0, F.col("value") / prev - 1.0)

    s1 = F.sum(F.col("value").cast(DEC)).over(frame).cast("double")
    s2 = F.sum((F.col("value") * F.col("value")).cast(DEC)).over(frame).cast(
        "double"
    )
    n = F.count(F.lit(1)).over(frame).cast("double")
    mean = s1 / n
    var = F.when(n > 1, (n * s2 - s1 * s1) / (n * (n - 1)))

    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        ret.alias("lag_return"),
        mean.alias("rolling_mean"),
        var.alias("rolling_var"),
    )


_FEATURES_SQL = f"""
SELECT event_id, user_id, ts, value,
       CASE WHEN LAG(value, 1) OVER w <> 0
            THEN value / LAG(value, 1) OVER w - 1.0 END AS lag_return,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER f AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) OVER f AS DOUBLE) AS rolling_mean,
       CASE WHEN COUNT(*) OVER f > 1 THEN
         (CAST(COUNT(*) OVER f AS DOUBLE)
            * CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER f AS VARCHAR) AS DOUBLE)
          - CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER f AS VARCHAR) AS DOUBLE)
            * CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER f AS VARCHAR) AS DOUBLE))
         / (CAST(COUNT(*) OVER f AS DOUBLE)
            * (CAST(COUNT(*) OVER f AS DOUBLE) - 1))
       END AS rolling_var
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       f AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {_WIN - 1} PRECEDING AND CURRENT ROW)
"""


# --- multi-grain time rollup (hour + day in one pass) -----------------------


def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    binned = events.select(
        F.date_trunc("hour", "ts").alias("hour_start"),
        # cast: DuckDB date_trunc('day') yields DATE, Spark TIMESTAMP
        F.date_trunc("day", "ts").cast("date").alias("day_start"),
        "value",
    )
    return binned.groupingSets(
        [["hour_start"], ["day_start"]], "hour_start", "day_start"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "sum_value"),
    )


_ROLLUP_MULTI_SQL = """
SELECT hour_start, day_start, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM (
  SELECT date_trunc('hour', ts) AS hour_start,
         date_trunc('day', ts) AS day_start,
         value
  FROM events
)
GROUP BY GROUPING SETS ((hour_start), (day_start))
"""


# --- simple exponential smoothing (closed form, no recursion) ---------------
#
# SES with alpha = 1/2: S_1 = x_1, S_t = (x_t + S_{t-1}) / 2. The
# sequential recurrence unrolls to a weighted sum with DYADIC weights
# (x_i * 2^-k), each term an exact IEEE product in both engines
# (POWER(0.5, k) is exactly representable), and the terms are summed
# through DECIMAL(38,6) — so the "stateful" smoother becomes ONE window
# pass + one agg, order-insensitive and cross-engine exact. This is the
# same recurrence-to-closed-form move as the grouped MSE and EWMA
# queries; at 100 TB it shuffles once on user_id and never serializes a
# per-user scan into the driver.


def ses_forecast_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n = F.count(F.lit(1)).over(
        Window.partitionBy("user_id")
    )
    rn = F.row_number().over(w)
    weight = F.when(rn == 1, F.pow(F.lit(0.5), n - 1)).otherwise(
        F.pow(F.lit(0.5), n - rn + 1)
    )
    return (
        events.select("user_id", (F.col("value") * weight).alias("term"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("term", "ses_value"),
        )
    )


_SES_SQL = """
WITH seq AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
terms AS (
  SELECT user_id,
         CAST(value * (CASE WHEN rn = 1 THEN POWER(0.5, n - 1)
                            ELSE POWER(0.5, n - rn + 1) END)
              AS DECIMAL(38,6)) AS term
  FROM seq
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS ses_value
FROM terms GROUP BY user_id
"""


# --- time_decay_customer_value ----------------------------------------------

_DECAY_PERIOD_DAYS = 30  # one half-life per ~month of order age
_DECAY_MAX_K = 48  # 2^-48 ~ 3.6e-15: below any 6dp-decimal resolution


def time_decay_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed customer value: each order counts
    o_totalprice * 0.5^k with k = whole ``_DECAY_PERIOD_DAYS``-day
    periods between the order date and the corpus's newest order — the
    recency-weighted LTV feature every churn/engagement model starts
    from, and a decay the plain RFM recency rank can't express.

    Determinism: the naive DECIMAL(38,6)-cast of ``price/2^k`` terms
    hits SYSTEMATIC round-half ties (2-decimal prices divided by small
    powers of two terminate at exactly 7 decimals), and the engines'
    tie rules differ — so instead the whole sum is exact integer math:
    Σ price·2^-k = (Σ cents·2^(K-k)) / (100·2^K) with K =
    ``_DECAY_MAX_K`` (k clamped there; the dropped weight is ~4e-15).
    The scaled products live in DECIMAL(38,0)/HUGEINT (~1e22 per term
    — int64 would overflow, 38 digits never), the sum is
    order-insensitive, and one final correctly-rounded double division
    lands both engines on the identical double. No POWER(): float pow
    is not bit-identical across engines. Scale: the anchor date is a
    1-row broadcast; everything else is one map-side-combinable
    groupBy on o_custkey.
    """
    orders = read_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("max_date"))
    k = F.least(
        F.floor(
            F.datediff(F.col("max_date"), F.col("o_orderdate"))
            / F.lit(_DECAY_PERIOD_DAYS)
        ).cast("int"),
        F.lit(_DECAY_MAX_K),
    )
    scaled = F.expr(
        "CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS DECIMAL(19,0))"
        f" * CAST(shiftleft(CAST(1 AS BIGINT), {_DECAY_MAX_K} - k)"
        "   AS DECIMAL(19,0))"
    )
    denom = float(100 * (1 << _DECAY_MAX_K))  # 25*2^50: exact double
    return (
        orders.crossJoin(F.broadcast(anchor))
        .withColumn("k", k)
        .select("o_custkey", scaled.alias("scaled"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum("scaled").cast("double") / F.lit(denom)
            ).alias("decayed_value"),
        )
    )


_TIME_DECAY_SQL = f"""
WITH anchor AS (SELECT MAX(o_orderdate) AS max_date FROM orders),
terms AS (
  SELECT o_custkey,
         CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS HUGEINT)
           * (CAST(1 AS HUGEINT) << ({_DECAY_MAX_K} - LEAST(
                CAST(FLOOR(date_diff('day', o_orderdate, max_date)
                           / {_DECAY_PERIOD_DAYS}) AS INT),
                {_DECAY_MAX_K}))) AS scaled
  FROM orders, anchor
)
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(CAST(SUM(scaled) AS VARCHAR) AS DOUBLE)
         / {float(100 * (1 << _DECAY_MAX_K))!r} AS decayed_value
FROM terms GROUP BY o_custkey
"""


# --- churn_label_features: leakage-safe label + feature snapshot --------------
# The supervised-learning prep step every retention model starts with:
# split the observation window into a FEATURE period (weeks 1-3) and a
# LABEL period (week 4); features may only read the feature period
# (event counts, purchase value, distinct active days, recency), the
# label is "no activity in the label period". The time split is the
# leakage guard — a feature computed over the label window would
# trivially predict it (the audit twin of split_leakage_audit).
#
# Scale shape: one user-level groupBy with conditional aggregates —
# single keyed shuffle, map-side combinable, every column from the
# same pass; no window, no join.

_CHURN_SPLIT = "2024-01-24 00:00:00"


def churn_label_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    split = F.lit(_CHURN_SPLIT).cast("timestamp")
    feat = F.col("ts") < split
    return ev.groupBy("user_id").agg(
        F.sum(feat.cast("long")).cast("bigint").alias("n_events_feat"),
        F.coalesce(
            exact_sum(
                f"CASE WHEN ts < CAST('{_CHURN_SPLIT}' AS TIMESTAMP)"
                " AND event_type = 'purchase' THEN value END"
            ),
            F.lit(0.0),
        ).alias("purchase_value_feat"),
        F.count_distinct(
            F.when(feat, F.to_date("ts"))
        ).cast("bigint").alias("active_days_feat"),
        F.max(F.when(feat, F.col("ts"))).alias("last_seen_feat"),
        (
            F.sum(
                ((~feat) & (F.col("event_type") == "purchase")).cast("long")
            )
            == 0
        ).alias("churned"),
    ).filter(F.col("n_events_feat") > 0)


_CHURN_SQL = f"""
SELECT user_id,
       CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CHURN_SPLIT}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_events_feat,
       COALESCE(CAST(CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CHURN_SPLIT}'
                          AND event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(38,6)) END) AS VARCHAR)
                AS DOUBLE), 0.0) AS purchase_value_feat,
       CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{_CHURN_SPLIT}'
                     THEN CAST(ts AS DATE) END) AS BIGINT)
         AS active_days_feat,
       MAX(CASE WHEN ts < TIMESTAMP '{_CHURN_SPLIT}' THEN ts END)
         AS last_seen_feat,
       SUM(CASE WHEN ts >= TIMESTAMP '{_CHURN_SPLIT}'
                AND event_type = 'purchase'
                THEN 1 ELSE 0 END) = 0 AS churned
FROM events
GROUP BY user_id
HAVING SUM(CASE WHEN ts < TIMESTAMP '{_CHURN_SPLIT}'
                THEN 1 ELSE 0 END) > 0
"""


QUERIES = {
    "churn_label_features": churn_label_features,
    "time_decay_customer_value": time_decay_customer_value,
    "user_value_features": user_value_features,
    "time_rollup_multigrain": time_rollup_multigrain,
    "ses_forecast_user_value": ses_forecast_user_value,
}

ORACLE = {
    "churn_label_features": _CHURN_SQL,
    "time_decay_customer_value": _TIME_DECAY_SQL,
    "user_value_features": _FEATURES_SQL,
    "time_rollup_multigrain": _ROLLUP_MULTI_SQL,
    "ses_forecast_user_value": _SES_SQL,
}
