"""Time-series join workload: as-of join and band (range) join.

These are the classic time-series operators Spark lacks natively;
the engine composes them from shuffle-bounded primitives
(operators/asof.py, operators/ranges.py). DuckDB *does* have native
ASOF JOIN and IEJoin, which makes the oracles short and genuinely
independent implementations — a strong cross-check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.operators import asof_join, range_join_binned
from big_data_pipeline_spark.oracle import DEC, exact_sum

# --- as-of join: last purchase value at or before each event ----------------


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    left = events.select("event_id", "user_id", "ts", "event_type")
    return asof_join(
        left,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )


_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts, e.event_type, p.value AS last_purchase_value
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# --- band join: purchases within 5 minutes after each error -----------------


def range_error_purchase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    joined = range_join_binned(
        errors,
        purchases,
        left_ts="error_ts",
        right_ts="purchase_ts",
        lower_sec=0,
        upper_sec=300,
    )
    return joined.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_purchases_5min")
    )


_RANGE_SQL = """
SELECT e.event_id AS error_id, COUNT(*) AS n_purchases_5min
FROM events e
JOIN events p
  ON p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(e.ts)
 AND epoch_us(p.ts) < epoch_us(e.ts) + 300 * 1000000
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


_GAP_USERS = 20


def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine + forward fill: the canonical time-series
    regularization (missing hours materialized, last observation
    carried forward). Spine = distinct keys x sequence(min_hour,
    max_hour) — generated, not scanned; the global bounds are a 1-row
    broadcast. Fill is last(ignorenulls) over an unbounded-preceding
    frame: one shuffle on the key, one sorted pass per partition.
    DuckDB twin uses generate_series + last_value IGNORE NULLS."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") < _GAP_USERS
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        events.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(hourly, ["user_id", "hour_ts"], "left").select(
        "user_id",
        "hour_ts",
        "n",
        F.last("n", ignorenulls=True).over(w).alias("n_ffill"),
    )


_GAP_FILL_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE user_id < {_GAP_USERS}),
spine AS (
  SELECT user_id, unnest(generate_series(
      (SELECT date_trunc('hour', min(ts)) FROM ev),
      (SELECT date_trunc('hour', max(ts)) FROM ev),
      INTERVAL 1 HOUR)) AS hour_ts
  FROM (SELECT DISTINCT user_id FROM ev)
),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
  FROM ev GROUP BY 1, 2
)
SELECT s.user_id, s.hour_ts, h.n,
       last_value(h.n IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_ffill
FROM spine s
LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour_ts = h.hour_ts
"""


# --- seasonal_residual_outliers: seasonal-profile anomaly detection ---------
# Additive seasonal decomposition with a fixed daily period: the
# (event_type, hour-of-day) mean is the seasonal profile; events whose
# residual |value − seasonal_mean| exceeds 2 profile-sigmas are
# anomalies AGAINST THEIR TIME-OF-DAY NORM — the detector that catches
# a quiet-hour spike a global z-score (zscore_outlier_orders) dilutes
# away. Two-pass shape: one map-side-combinable moment aggregation per
# (type, hour) — 24×|types| rows — broadcast back, residual computed
# row-side from a SHARED formula text. The value sums go through the
# exact-sum kernel (order-insensitive) and both engines evaluate the same
# expression string, so flags and residual doubles hash-match.

_SEAS = "(value - s / n)"
_SEAS_SIG = "sqrt((ss - s * s / n) / n)"
_SEAS_K = 2.0


def seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.hour("ts").alias("hod")
    )
    prof = events.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("value", "s"),
        exact_sum("value * value", "ss"),
    )
    return (
        events.join(F.broadcast(prof), ["event_type", "hod"])
        .withColumn("seasonal_mean", F.expr("s / n"))
        .withColumn("residual", F.expr(_SEAS))
        .filter(F.expr(f"ABS({_SEAS}) > {_SEAS_K} * {_SEAS_SIG}"))
        .select(
            "event_id", "event_type", "hod", "value", "seasonal_mean", "residual"
        )
    )


def _seasonal_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    s = _dec_to_double_sql("SUM(CAST(value AS DECIMAL(38,6)))")
    ss = _dec_to_double_sql("SUM(CAST(value * value AS DECIMAL(38,6)))")
    return f"""
WITH e AS (
  SELECT event_id, event_type, value, hour(ts) AS hod FROM events
),
prof AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {s} AS s,
         {ss} AS ss
  FROM e GROUP BY event_type, hod
)
SELECT event_id, e.event_type, e.hod, value,
       s / n AS seasonal_mean,
       {_SEAS} AS residual
FROM e JOIN prof p ON e.event_type = p.event_type AND e.hod = p.hod
WHERE ABS({_SEAS}) > {_SEAS_K} * {_SEAS_SIG}
"""


# --- cusum_changepoint_per_user: offline changepoint detection --------------
# The classic CUSUM statistic (Page 1954): for each user's time-ordered
# value series, the candidate changepoint is the position maximizing
# |S_i - (i/n) * S_n| — how far the running sum strays from the straight
# line a stationary series would follow. Telemetry/drift monitoring over
# a 100 TB event log runs exactly this shape.
#
# Determinism: running and total sums accumulate as DECIMAL(38,6)
# (order-insensitive), convert once to double, and both engines evaluate
# the IDENTICAL deviation text; the argmax tie-breaks on (ts, event_id)
# so equal deviations pick the same row. Scale: two window passes over
# hash(user_id) — high-cardinality partitions, no global window, no
# join; the final argmax is a WindowGroupLimit-style rank filter.

_CUSUM_DEV = "abs(cum - i * total / n)"


def cusum_changepoint_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    scored = events.select(
        "user_id",
        "ts",
        "event_id",
        F.row_number().over(w_ord).alias("i"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("cum"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w_all)
        .cast("double")
        .alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).withColumn("dev", F.expr(_CUSUM_DEV))
    w_pick = Window.partitionBy("user_id").orderBy(
        F.desc("dev"), "ts", "event_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("change_ts"),
            F.col("event_id").alias("change_event_id"),
            F.col("n").alias("n_events"),
            F.col("dev").alias("max_cusum_dev"),
        )
    )


_CUSUM_SQL = f"""
WITH scored AS (
  SELECT user_id, ts, event_id,
         ROW_NUMBER() OVER w_ord AS i,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS VARCHAR) AS DOUBLE) AS cum,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
           PARTITION BY user_id
         ) AS VARCHAR) AS DOUBLE) AS total,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
),
dev AS (
  SELECT *, {_CUSUM_DEV} AS dev FROM scored
),
picked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY dev DESC, ts, event_id) AS rn
  FROM dev
)
SELECT user_id, ts AS change_ts, event_id AS change_event_id,
       n AS n_events, dev AS max_cusum_dev
FROM picked WHERE rn = 1
"""


# --- acf_lag_autocorr: lag-k autocorrelation per metric series --------------
# The ACF profile drift/seasonality monitoring runs on every telemetry
# series: Pearson correlation of (x_i, x_{i-k}) pairs for k = 1..3 over
# each (event_type, day) series ordered by (ts, event_id). Values are
# cents-exact, so moments accumulate as exact DECIMAL(38,0) sums of
# integer-scaled pairs (the measure_corr_matrix discipline), convert
# once to double, and both engines evaluate the IDENTICAL closed form —
# no rounding fudge. Degenerate series (fewer than 2 lag pairs or zero
# variance on either margin) yield NULL via the same CASE text.
#
# Scale (100 TB): the window partition key is (event_type, day) — the
# series is re-keyed per day precisely so partitions stay bounded as
# history grows (the all-time per-type window would be a single-task
# trap). One shuffle for the lag window; the moment aggregation rides
# the same partitioning map-side. A single hot day x type still bounds
# at one day's volume; the documented extension for that case is the
# boundary-exchange sharded lag (operators/prefix.py's device applied
# to LAG).

_ACF_LAGS = (1, 2, 3)

_ACF_NUM = "n * sxy - sx * sy"
_ACF_DEN_X = "n * sxx - sx * sx"
_ACF_DEN_Y = "n * syy - sy * sy"
_ACF_EXPR = (
    f"CASE WHEN n < CAST(2 AS DOUBLE) OR ({_ACF_DEN_X}) <= CAST(0 AS DOUBLE)"
    f" OR ({_ACF_DEN_Y}) <= CAST(0 AS DOUBLE) THEN NULL"
    f" ELSE ({_ACF_NUM}) / (sqrt({_ACF_DEN_X}) * sqrt({_ACF_DEN_Y})) END"
)


def acf_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    base = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("x"),
    )
    lagged = base.select(
        "event_type",
        "day",
        "x",
        *[F.lag("x", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    pairs = lagged.select(
        "event_type",
        "day",
        "x",
        F.expr(
            "stack(%d, %s) AS (lag, y)"
            % (len(_ACF_LAGS), ", ".join(f"{k}, y{k}" for k in _ACF_LAGS))
        ),
    ).filter(F.col("y").isNotNull())

    def dsum(expr: str, alias: str):
        return (
            F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double").alias(alias)
        )

    moments = pairs.groupBy("event_type", "day", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", "sx"),
        dsum("y", "sy"),
        dsum("x * x", "sxx"),
        dsum("y * y", "syy"),
        dsum("x * y", "sxy"),
    )
    return moments.select(
        "event_type",
        "day",
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(_ACF_EXPR).alias("acf"),
    )


def _acf_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    def dsum_sql(expr: str, alias: str) -> str:
        return (
            _dec_to_double_sql(f"SUM(CAST({expr} AS DECIMAL(38,0)))")
            + f" AS {alias}"
        )

    arms = "\n  UNION ALL ".join(
        f"SELECT event_type, day, x, {k} AS lag, y{k} AS y"
        f" FROM lagged WHERE y{k} IS NOT NULL"
        for k in _ACF_LAGS
    )
    lag_cols = ",\n         ".join(
        f"LAG(x, {k}) OVER w AS y{k}" for k in _ACF_LAGS
    )
    return f"""
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS x
  FROM events
),
lagged AS (
  SELECT event_type, day, x,
         {lag_cols}
  FROM base
  WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id)
),
pairs AS (
  {arms}
),
moments AS (
  SELECT event_type, day, lag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('x', 'sx')},
         {dsum_sql('y', 'sy')},
         {dsum_sql('x * x', 'sxx')},
         {dsum_sql('y * y', 'syy')},
         {dsum_sql('x * y', 'sxy')}
  FROM pairs GROUP BY 1, 2, 3
)
SELECT event_type, day, lag, CAST(n AS BIGINT) AS n_pairs,
       {_ACF_EXPR} AS acf
FROM moments
"""


# Shared per-key pair-join gate for the two O(n²)-per-key trend ops
# (Theil-Sen, Mann-Kendall): the trailing _TS_PAIR_CAP observations
# per user, indexed by the NEGATED descending row_number so the index
# ascends with time without a second window pass — pair predicates
# (i < j) and rank differences (j - i) are translation-invariant, so
# all downstream arithmetic is unchanged. 512 points → ≤130,816 pairs
# per key, a hard per-partition bound independent of corpus size.
_TS_PAIR_CAP = 512

_TRAILING_SEQ_SQL = f"""
  SELECT user_id, value, -rd AS rn
  FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rd
    FROM events
  )
  WHERE rd <= {_TS_PAIR_CAP}
"""


def _trailing_seq(events: DataFrame) -> DataFrame:
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.select(
            "user_id", "value", F.row_number().over(wd).alias("rd")
        )
        .filter(F.col("rd") <= _TS_PAIR_CAP)
        .select("user_id", (-F.col("rd")).alias("rn"), "value")
    )


# --- Theil-Sen robust trend per user ----------------------------------------
#
# Theil (1950) / Sen (1968): the median of all pairwise slopes — the
# robust trend estimator (29% breakdown point) that outlier-heavy event
# streams need where OLS (lineitem_regression_stats) folds. Exact form
# is O(n²) pairs PER KEY, which is Theil-Sen's nature, not a plan
# smell — but "per key" only bounds the fan-out if every key is in
# fact bounded, and at 100 TB one hot user with 10⁶ events would form
# ~5×10¹¹ pairs in a single partition. So the pair source is gated
# IN-PLAN to the trailing _TS_PAIR_CAP observations per key (the same
# enforced-bound discipline as the CF fan-out and LOF slice caps):
# row_number over the DESCENDING (ts, event_id) order, keep <= cap,
# and reuse the negated descending rank as the ascending time index
# (differences and comparisons are translation-invariant). The cap is
# far above every fixture series (max 99 events/user at sf0.1), so
# small-SF results are bit-identical to the uncapped form; at scale it
# turns a quadratic blow-up into "trend over the last 512 points",
# which is the estimator a monitor wants anyway. Hotter keys needing
# full history would use the repeated-median or sampled-pairs variant.
#
# Median convention (cross-engine exact): pairs are totally ordered by
# (slope, i, j); the median is (min+max)/2 of the rows at 1-indexed
# positions floor((m+1)/2) and floor(m/2)+1 — one expression, no
# engine median() (DuckDB interpolates, Spark approximates).


def theilsen_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    seq = _trailing_seq(events)
    a = seq.select("user_id", F.col("rn").alias("i"), F.col("value").alias("vi"))
    b = seq.select("user_id", F.col("rn").alias("j"), F.col("value").alias("vj"))
    slopes = (
        a.join(b, "user_id")
        .filter(F.col("i") < F.col("j"))
        .select(
            "user_id",
            "i",
            "j",
            (
                (F.col("vj") - F.col("vi"))
                / (F.col("j") - F.col("i")).cast("double")
            ).alias("slope"),
        )
    )
    ws = Window.partitionBy("user_id").orderBy("slope", "i", "j")
    ranked = slopes.select(
        "user_id",
        "slope",
        F.row_number().over(ws).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("m"),
    )
    lo = F.floor((F.col("m") + 1) / 2.0)
    hi = F.floor(F.col("m") / 2.0) + 1
    mid = ranked.filter((F.col("pos") == lo) | (F.col("pos") == hi))
    return mid.groupBy("user_id").agg(
        F.max("m").alias("n_pairs"),
        ((F.min("slope") + F.max("slope")) / 2.0).alias("ts_slope"),
    )


_THEILSEN_SQL = f"""
WITH seq AS (
  {_TRAILING_SEQ_SQL}
),
slopes AS (
  SELECT a.user_id, a.rn AS i, b.rn AS j,
         (b.value - a.value) / CAST(b.rn - a.rn AS DOUBLE) AS slope
  FROM seq a JOIN seq b
    ON a.user_id = b.user_id AND a.rn < b.rn
),
ranked AS (
  SELECT user_id, slope,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY slope, i, j) AS pos,
         COUNT(*) OVER (PARTITION BY user_id) AS m
  FROM slopes
)
SELECT user_id, CAST(MAX(m) AS BIGINT) AS n_pairs,
       (MIN(slope) + MAX(slope)) / 2.0 AS ts_slope
FROM ranked
WHERE pos = FLOOR((m + 1) / 2.0) OR pos = FLOOR(m / 2.0) + 1
GROUP BY user_id
"""


# --- maximum drawdown per user ----------------------------------------------
#
# The classic finance risk metric over each user's cumulative value
# stream (the reference is a stock pipeline — this is the analytics its
# forecasts feed): drawdown_t = running_max(cum_t) - cum_t; report the
# worst one and where it bottomed. Two stacked windows keyed on the
# SAME (user_id, ts, event_id) order = ONE exchange + one sort;
# cumulative sums route through DECIMAL(38,6) so the running series is
# order-insensitive and the argmax deterministic (ties -> earliest).


def max_drawdown_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (
        F.sum(F.col("value").cast(DEC))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    series = events.select(
        "user_id", "ts", "event_id", cum.alias("cum")
    ).withColumn(
        "peak",
        F.max("cum").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dd = series.select(
        "user_id",
        "ts",
        (F.col("peak") - F.col("cum")).alias("drawdown"),
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("drawdown"), F.asc("ts")
    )
    return (
        dd.withColumn("r", F.row_number().over(wd))
        .filter(F.col("r") == 1)
        .select(
            "user_id",
            F.col("drawdown").alias("max_drawdown"),
            F.col("ts").alias("trough_ts"),
        )
    )


_DRAWDOWN_SQL = """
WITH series AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS VARCHAR) AS DOUBLE) AS cum
  FROM events
),
peaked AS (
  SELECT user_id, ts, cum,
         MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM series
),
ranked AS (
  SELECT user_id, ts, peak - cum AS drawdown,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY peak - cum DESC, ts ASC) AS r
  FROM peaked
)
SELECT user_id, drawdown AS max_drawdown, ts AS trough_ts
FROM ranked WHERE r = 1
"""


# --- holt_linear_forecast ---------------------------------------------------
# Holt's linear-trend double exponential smoothing (Holt 1957) per
# user: level/trend recurrences l' = a*y + (1-a)*(l+b);
# b' = g*(l'-l) + (1-g)*b over the time-ordered value series, forecast
# = l+b. The trend-aware sibling of ``ses_forecast_user_value`` (whose
# closed form can't carry a trend term).
#
# Determinism: a = g = 0.5 makes every update a correctly-rounded IEEE
# add/halve, and BOTH engines execute the identical op sequence — the
# pandas kernel and the recursive-CTE oracle (precedent:
# markov_removal_attribution) agree bit-for-bit, no decimal detour
# needed. Order ties break on (ts, event_id).
#
# Scale (100 TB): the recurrence is inherently sequential PER USER but
# embarrassingly parallel ACROSS users — exactly applyInPandas' shape:
# one shuffle on user_id, then an Arrow-batched numpy loop over each
# user's own series (bounded by per-user activity, not corpus size).
# State-shaped twin: streaming/stateful.py runs the same update rule
# incrementally.

_HOLT_ALPHA = 0.5  # must stay a negative power of 2 (see determinism note)


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # One shuffle to (user, time-ordered value array) — the sort and the
    # struct→value projection stay JVM-side — then a SINGLE pandas_udf
    # advances ALL users' recurrences in lockstep: step t is one masked
    # numpy op across the whole batch, so Python runs max_len
    # iterations total instead of one applyInPandas call per user
    # (measured at sf0.1: 3.9s → the per-group invocation overhead was
    # the whole cost; identical op order per user keeps the IEEE
    # sequence, and the oracle, unchanged).
    @pandas_udf(
        T.StructType(
            [
                T.StructField("n_obs", T.LongType()),
                T.StructField("level", T.DoubleType()),
                T.StructField("trend", T.DoubleType()),
                T.StructField("forecast_next", T.DoubleType()),
            ]
        )
    )
    def _holt_batch(series: pd.Series) -> pd.DataFrame:
        vals = [np.asarray(s, dtype=np.float64) for s in series]
        n = np.array([len(v) for v in vals], dtype=np.int64)
        width = int(n.max()) if len(n) else 1
        pad = np.full((len(vals), width), np.nan)
        for i, v in enumerate(vals):
            pad[i, : len(v)] = v
        lvl = pad[:, 0].copy()
        trd = np.zeros(len(vals))
        for t in range(1, width):
            y = pad[:, t]
            m = ~np.isnan(y)
            nxt = _HOLT_ALPHA * y[m] + (1.0 - _HOLT_ALPHA) * (lvl[m] + trd[m])
            trd[m] = _HOLT_ALPHA * (nxt - lvl[m]) + (1.0 - _HOLT_ALPHA) * trd[m]
            lvl[m] = nxt
        return pd.DataFrame(
            {
                "n_obs": n,
                "level": lvl,
                "trend": trd,
                "forecast_next": lvl + trd,
            }
        )

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    series = events.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("series")
    )
    # Memory bound of the batched kernel: the pad is O(batch_rows ×
    # max_len_in_batch) float64 — one very long series would inflate
    # the whole ~10k-row Arrow batch (the skew hazard the old
    # per-group applyInPandas did not have). Sorting by series length
    # WITHIN partitions (no shuffle) makes consecutive Arrow batches
    # length-homogeneous, so each batch pads to ≈ its own lengths and
    # the worst case degrades to O(batch × its_own_max), not
    # O(batch × global_max). Order of rows is irrelevant to the
    # per-row recurrence, so results are unchanged.
    series = series.sortWithinPartitions(F.size("series"))
    out = series.select("user_id", _holt_batch("series").alias("r"))
    return out.select(
        "user_id", "r.n_obs", "r.level", "r.trend", "r.forecast_next"
    )


_HOLT_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
n AS (SELECT user_id, COUNT(*) AS n_obs FROM ev GROUP BY user_id),
hw AS (
  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         0.5e0 * e.value + 0.5e0 * (h.l + h.b),
         0.5e0 * ((0.5e0 * e.value
             + 0.5e0 * (h.l + h.b)) - h.l)
           + 0.5e0 * h.b
  FROM hw h JOIN ev e ON e.user_id = h.user_id AND e.rn = h.rn + 1
)
SELECT hw.user_id, n.n_obs, hw.l AS level, hw.b AS trend,
       hw.l + hw.b AS forecast_next
FROM hw JOIN n ON n.user_id = hw.user_id AND n.n_obs = hw.rn
"""


# --- promo_interval_overlap: interval × interval overlap join ---------------
# The third classic temporal-join shape (after as-of and band): which
# order fulfillment windows [o_orderdate, last l_shipdate] intersect
# which promotion windows, and how much revenue sits in each promo.
# Spark has no interval join; operators/ranges.interval_overlap_join
# composes it from bin-explosion + equi-join with an exactly-once bin
# rule (match only in the bin containing greatest(start_l, start_r)),
# so there is NO post-join distinct. DuckDB runs the same overlap as a
# native IEJoin over a VALUES calendar — an independent formulation.
#
# Scale: order windows span ~1-5 months, bin = 30 days → fan-out ≤ ~6
# per order; the promo side is a constant VALUES frame. Revenue sums
# route through DECIMAL per oracle.py.

_PROMOS = (
    ("holiday95", "1995-11-15 00:00:00", "1995-12-31 00:00:00"),
    ("summer96", "1996-06-01 00:00:00", "1996-06-14 00:00:00"),
    ("holiday97", "1997-11-15 00:00:00", "1997-12-31 00:00:00"),
    ("summer98", "1998-07-01 00:00:00", "1998-07-14 00:00:00"),
    ("millennium", "2000-01-01 00:00:00", "2000-01-31 00:00:00"),
)
_PROMO_BIN_SEC = 30 * 86400


def promo_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators import interval_overlap_join

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    last_ship = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    windows = orders.join(last_ship, "o_orderkey")
    promos = spark.createDataFrame(
        list(_PROMOS), "promo_id string, p_start string, p_end string"
    ).select(
        "promo_id",
        F.col("p_start").cast("timestamp").alias("p_start"),
        F.col("p_end").cast("timestamp").alias("p_end"),
    )
    # The promo calendar is a constant frame: force ITS side to build
    # the broadcast. Catalyst's size estimate of the exploded orders
    # side is tiny at sf0.01 and flips the build side without the hint
    # — at scale that would broadcast the fact table.
    hits = interval_overlap_join(
        windows,
        F.broadcast(promos),
        left_start="o_orderdate",
        left_end="last_ship",
        right_start="p_start",
        right_end="p_end",
        bin_sec=_PROMO_BIN_SEC,
    )
    return hits.groupBy("promo_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        exact_sum("o_totalprice", "revenue"),
    )


def _promo_sql() -> str:
    from big_data_pipeline_spark.oracle import exact_sum_sql

    values = ",\n    ".join(
        f"('{p}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for p, s, e in _PROMOS
    )
    return f"""
WITH promos(promo_id, p_start, p_end) AS (
  VALUES
    {values}
),
win AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
         MAX(l.l_shipdate) AS last_ship
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
)
SELECT promo_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {exact_sum_sql("o_totalprice", "revenue")}
FROM win JOIN promos
  ON win.o_orderdate <= promos.p_end AND promos.p_start <= win.last_ship
GROUP BY promo_id
"""


# --- ohlc_daily_resample: bar resampling (the reference's own domain) --------
# The canonical market-data op the reference's pipeline implies but
# never implements (it re-downloads instead): resample a fine-grained
# stream to daily OHLCV bars — open/close = first/last value in
# (ts, event_id) order, high/low = extrema, volume = row count, plus
# the exact-decimal value sum. Events stand in for ticks (user_id =
# symbol). Open/close use the conditional-aggregate form over asc/desc
# row numbers — both windows share the (user, day) partitioning, so
# the whole resample is ONE keyed shuffle, and the deterministic
# tie-break makes the oracle cell-exact.

def ohlc_daily_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    day = F.to_date("ts").alias("day")
    base = ev.select("user_id", day, "ts", "event_id", "value")
    w_asc = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    marked = base.withColumn("rn_a", F.row_number().over(w_asc)).withColumn(
        "rn_d", F.row_number().over(w_desc)
    )
    return marked.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("volume"),
        exact_sum("value", "sum_value"),
    )


_OHLC_SQL = """
WITH marked AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, day,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS volume,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM marked
GROUP BY user_id, day
"""


# --- yoy_revenue_growth: calendarized year-over-year comparison --------------
# The BI staple: monthly revenue joined to the SAME month one year
# earlier (an explicit (year-1, month) self-join of the month-level
# aggregate — robust to calendar gaps, unlike lag(12) over a dense
# month sequence). Growth is one double division over exact-decimal
# month sums. The self-join runs on the MONTH-LEVEL frame (bounded by
# the calendar, not the fact table), so it broadcasts at any scale.


def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(exact_sum("o_totalprice", "revenue"))
    prev = monthly.select(
        (F.col("yr") + 1).alias("yr"),
        "mo",
        F.col("revenue").alias("revenue_prev_year"),
    )
    return monthly.join(F.broadcast(prev), ["yr", "mo"]).select(
        "yr",
        "mo",
        "revenue",
        "revenue_prev_year",
        (
            (F.col("revenue") - F.col("revenue_prev_year"))
            / F.col("revenue_prev_year")
        ).alias("yoy_pct"),
    )


_YOY_SQL = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
         CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT cur.yr, cur.mo, cur.revenue,
       prev.revenue AS revenue_prev_year,
       (cur.revenue - prev.revenue) / prev.revenue AS yoy_pct
FROM monthly cur
JOIN monthly prev ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
"""


# --- mann_kendall_trend: nonparametric monotonic-trend test -----------------
# The significance companion to theilsen_trend_per_user (that one
# estimates the slope; this one tests whether a monotonic trend exists
# at all): per user, S = sum over ordered pairs of sign(v_j - v_i),
# tie-corrected variance Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]
# / 18 (Kendall 1975), continuity-corrected Z = (S -/+ 1)/sqrt(Var),
# and tau-a = S / (n(n-1)/2). S and both variance terms are exact
# integers (sign comparisons on stored doubles are exact); the only
# IEEE ops are two divisions and one sqrt — all correctly rounded, so
# both engines agree bit-for-bit.
#
# Scale: the pair join shares the ENFORCED trailing-_TS_PAIR_CAP gate
# with Theil-Sen above (_trailing_seq — a hot key can never form more
# than ~131k pairs; n, S, the tie term, and tau-a are all computed
# over the same capped window, so the statistic stays internally
# consistent). The O(n log n) inversion-count formulation remains the
# upgrade path if full-history trend tests are ever needed.


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    seq = _trailing_seq(events)
    a = seq.select(
        "user_id", F.col("rn").alias("i"), F.col("value").alias("vi")
    )
    b = seq.select(
        "user_id", F.col("rn").alias("j"), F.col("value").alias("vj")
    )
    s_tbl = (
        a.join(b, "user_id")
        .filter(F.col("i") < F.col("j"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.signum(F.col("vj") - F.col("vi")).cast("long")
            ).alias("s")
        )
    )
    n_tbl = seq.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        seq.groupBy("user_id", "value")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    j = (
        n_tbl.join(s_tbl, "user_id")
        .join(ties, "user_id", "left")
        .withColumn("tie_term", F.coalesce("tie_term", F.lit(0)))
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("double") / 18.0
    z = F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s)).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return j.select(
        "user_id",
        "n",
        "s",
        var_s.alias("var_s"),
        z.alias("z_stat"),
        (
            F.col("s").cast("double")
            / (F.col("n") * (F.col("n") - 1) / 2).cast("double")
        ).alias("tau_a"),
    )


_MANN_KENDALL_SQL = f"""
WITH seq AS (
  {_TRAILING_SEQ_SQL}
),
s_tbl AS (
  SELECT a.user_id,
         CAST(SUM(CASE WHEN b.value > a.value THEN 1
                       WHEN b.value < a.value THEN -1 ELSE 0 END) AS BIGINT)
           AS s
  FROM seq a JOIN seq b ON a.user_id = b.user_id AND a.rn < b.rn
  GROUP BY a.user_id
),
n_tbl AS (SELECT user_id, COUNT(*) AS n FROM seq GROUP BY user_id),
ties AS (
  SELECT user_id, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT user_id, value, COUNT(*) AS t
        FROM seq GROUP BY user_id, value)
  WHERE t > 1
  GROUP BY user_id
),
j AS (
  SELECT n_tbl.user_id, n, s, COALESCE(tie_term, 0) AS tie_term
  FROM n_tbl JOIN s_tbl USING (user_id)
  LEFT JOIN ties ON ties.user_id = n_tbl.user_id
)
SELECT user_id, n, s,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 AS var_s,
       CASE WHEN s > 0 THEN (s - 1) / sqrt(
              CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
            WHEN s < 0 THEN (s + 1) / sqrt(
              CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat,
       CAST(s AS DOUBLE) / CAST(n * (n - 1) // 2 AS DOUBLE) AS tau_a
FROM j
"""


QUERIES = {
    "mann_kendall_trend": mann_kendall_trend,
    "yoy_revenue_growth": yoy_revenue_growth,
    "ohlc_daily_resample": ohlc_daily_resample,
    "promo_interval_overlap": promo_interval_overlap,
    "holt_linear_forecast": holt_linear_forecast,
    "theilsen_trend_per_user": theilsen_trend_per_user,
    "max_drawdown_per_user": max_drawdown_per_user,
    "gap_fill_forward": gap_fill_forward,
    "asof_last_purchase": asof_last_purchase,
    "range_error_purchase_counts": range_error_purchase_counts,
    "seasonal_residual_outliers": seasonal_residual_outliers,
    "cusum_changepoint_per_user": cusum_changepoint_per_user,
    "acf_lag_autocorr": acf_lag_autocorr,
}

ORACLE = {
    "mann_kendall_trend": _MANN_KENDALL_SQL,
    "yoy_revenue_growth": _YOY_SQL,
    "ohlc_daily_resample": _OHLC_SQL,
    "promo_interval_overlap": _promo_sql(),
    "holt_linear_forecast": _HOLT_SQL,
    "theilsen_trend_per_user": _THEILSEN_SQL,
    "max_drawdown_per_user": _DRAWDOWN_SQL,
    "gap_fill_forward": _GAP_FILL_SQL,
    "asof_last_purchase": _ASOF_SQL,
    "range_error_purchase_counts": _RANGE_SQL,
    "seasonal_residual_outliers": _seasonal_sql(),
    "cusum_changepoint_per_user": _CUSUM_SQL,
    "acf_lag_autocorr": _acf_sql(),
}
