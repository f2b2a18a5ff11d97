"""Event-table workload: windows, sessionization, time buckets, grouped ML.

Covers SURVEY.md §2.5 (A2/A3/A5/A6/A7), §2.6 (W1 lead, W2 last-per-group),
§2.7 (O1/O2), §2.8 json, and the batch twins of the streaming surface
(§2.9 extension: tumbling/sliding/session windows). The flagship
``linreg_next_value`` re-expresses the reference's per-symbol
next-close LinearRegression (reference ``scripts/stock_predictor.py:38-102``:
sort by time within key, shift(-1) target, fit OLS, predict from the
last row, report MSE) as pure closed-form aggregates over exact decimal
sums — one shuffle, no Python, hash-exact against the oracle.

Scale notes (100 TB):
- All window specs partition by a key (user_id) — Spark distributes
  partitions across executors; no global ordering is ever required.
- Sessionization is lag + running-sum inside one partitioned window:
  a single shuffle on user_id, linear work per partition.
- The OLS trainer is an aggregation, not applyInPandas: at 1000
  executors it's map-side partial sums + one tiny reduce, the cheapest
  possible plan for grouped regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import DEC, exact_avg, exact_sum, exact_sum_sql

# --- window_lead_next_value (W1): shift(-1) within key ----------------------


def window_lead_next_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lead("value", 1).over(w).alias("next_value"),
    )


_LEAD_SQL = """
SELECT event_id, user_id, ts, value,
       LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
FROM events
"""


# --- latest_event_per_user (A7/W2): greatest-1-per-group --------------------


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        read_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


_LATEST_PER_USER_SQL = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# --- global_argmax_latest (A6): top-1 by timestamp --------------------------


def global_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", "user_id", "ts", "event_type")
    )


_GLOBAL_ARGMAX_SQL = """
SELECT event_id, user_id, ts, event_type
FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
"""


# --- grouped_mse (A5): mean squared deviation from the group mean -----------


def grouped_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id")
    mean = (
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        read_table(spark, sf_dir, "events")
        .withColumn("m", mean)
        .groupBy("user_id")
        .agg(
            # (x)*(x), not pow(x,2): one IEEE multiply needs no libm
            # parity between JVM and C across engines
            exact_avg("(value - m) * (value - m)", "mse"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_GROUPED_MSE_SQL = """
WITH t AS (
  SELECT user_id, value,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id) AS VARCHAR) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id) AS m
  FROM events
)
SELECT user_id,
       CAST(CAST(SUM(CAST((value - m) * (value - m) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mse,
       COUNT(*) AS n_events
FROM t GROUP BY user_id
"""


# --- json_props_extract (§2.8 json): typed field out of a JSON string -------


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.regexp_extract("props", r'"k":\s*(-?\d+)', 1).cast("long")
    return (
        read_table(spark, sf_dir, "events")
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),  # integer sum: exact, order-free
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


_JSON_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
FROM (
  SELECT event_type, CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


# --- event_type_pivot: wide counts per user ---------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return df.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


_PIVOT_SQL = "SELECT user_id, " + ", ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
) + " FROM events GROUP BY user_id"


# --- tumbling_window_counts: 1-hour event-time buckets ----------------------


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
    )
    return df.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
    )


_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# --- sliding_window_counts: 1-hour windows sliding every 30 minutes --------
# Each event lands in exactly two windows; the oracle materializes both
# starts explicitly (floor-to-30min and 30min earlier).


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "sum_value"))
    )
    return df.select(F.col("w.start").alias("window_start"), "n_events", "sum_value")


_SLIDING_SQL = f"""
WITH bucketed AS (
  SELECT date_trunc('hour', ts)
           + CASE WHEN EXTRACT(minute FROM ts) >= 30
                  THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b30,
         value
  FROM events
),
expanded AS (
  SELECT b30 AS window_start, value FROM bucketed
  UNION ALL
  SELECT b30 - INTERVAL 30 MINUTE AS window_start, value FROM bucketed
)
SELECT window_start, COUNT(*) AS n_events, {exact_sum_sql("value", "sum_value")}
FROM expanded GROUP BY window_start
"""


# --- session_windows: gap-based sessionization (30-min inactivity) ---------
# The batch formulation of a session window: flag gap-starts with LAG,
# running-sum the flags into session ids, aggregate. One shuffle on
# user_id; this is also exactly what Structured Streaming's
# session_window computes incrementally (see streaming/).

_SESSION_GAP_MIN = 30


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = _SESSION_GAP_MIN * 60
    new_sess = F.when(
        F.lag("ts").over(w_ord).isNull()
        | (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_ord))
            > gap_s
        ),
        1,
    ).otherwise(0)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        read_table(spark, sf_dir, "events")
        .withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR date_diff('second', LAG(ts) OVER w, ts) > {_SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


# --- sessionize_secondary_sort: the same sessions via one ordered pass -----
# Deliberately the SAME semantics as session_windows, computed by the
# secondary-sort mapInPandas operator instead of LAG/running-sum window
# functions — so both share one oracle. The window formulation is the
# default; the ordered-pass pattern is the escape hatch for per-key
# sequential logic windows can't express, and this query pins its
# correctness against the declarative twin.


def sessionize_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.secondary_sort import sessionize

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    return (
        sessionize(ev, gap_seconds=_SESSION_GAP_MIN * 60)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- linreg_next_value: grouped OLS via closed-form exact aggregates -------
# Reference parity: stock_predictor.py trains y = a + b*x per key where
# x = current close, y = next close (shift(-1)), predicts from the last
# row and reports MSE. Slope/intercept/MSE come from the sufficient
# statistics (n, Sx, Sy, Sxx, Sxy, Syy) — each an exact decimal sum, so
# both engines derive bit-identical doubles. No Python in the plan.

_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
_INTERCEPT = f"(sy - ({_SLOPE}) * sx) / n"
_MSE = (
    f"(syy - 2 * ({_INTERCEPT}) * sy - 2 * ({_SLOPE}) * sxy"
    f" + n * ({_INTERCEPT}) * ({_INTERCEPT})"
    f" + ({_SLOPE}) * ({_SLOPE}) * sxx"
    f" + 2 * ({_INTERCEPT}) * ({_SLOPE}) * sx) / n"
)
_PRED = f"({_INTERCEPT}) + ({_SLOPE}) * x_last"


def linreg_next_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ordered = events.select(
        "user_id",
        "ts",
        F.col("value").alias("x"),
        F.lead("value", 1).over(w).alias("y"),
        F.row_number().over(w_desc).alias("rn"),
    )
    pairs = ordered.filter(F.col("y").isNotNull())
    stats = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("x", "sx"),
        exact_sum("y", "sy"),
        exact_sum("x * x", "sxx"),
        exact_sum("x * y", "sxy"),
        exact_sum("y * y", "syy"),
    )
    last_row = ordered.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("x").alias("x_last"),
        F.col("ts").cast("string").alias("last_date"),
    )
    return (
        stats.join(last_row, "user_id")
        .filter(F.expr("n * sxx - sx * sx <> 0"))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_train"),
            F.expr(_SLOPE).alias("slope"),
            F.expr(_INTERCEPT).alias("intercept"),
            F.expr(_PRED).alias("predicted_next"),
            F.expr(_MSE).alias("mse"),
            "last_date",
        )
    )


_LINREG_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, value AS x,
         LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS syy
  FROM ordered WHERE y IS NOT NULL GROUP BY user_id
),
last_row AS (
  SELECT user_id, x AS x_last, CAST(ts AS VARCHAR) AS last_date
  FROM ordered WHERE rn = 1
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_train,
       {_SLOPE} AS slope,
       {_INTERCEPT} AS intercept,
       {_PRED} AS predicted_next,
       {_MSE} AS mse,
       last_date
FROM stats JOIN last_row USING (user_id)
WHERE n * sxx - sx * sx <> 0
"""


# --- session_concurrency_peak: sweep-line max concurrent sessions -----------
# The interval-overlap aggregate behind capacity planning ("how many
# sessions were live at once, per hour"): each session [start, end]
# (inclusive, from session_windows) emits +1 at start and -1 at end,
# the GLOBAL running sum of deltas over (ts, pri, user_id, session_id)
# is the live-session count after each transition, and the hourly MAX
# of that count is the peak. ``pri`` orders starts (0) before ends (1)
# at equal instants, so back-to-back sessions at a shared boundary
# count as overlapping — the inclusive-interval convention, pinned
# identically in both engines' ORDER BY. Hours with no transition emit
# no row (standard sweep output: the count is constant there).
#
# Scale (100 TB): the sweep is 2x|sessions| rows and needs ONE global
# total order — the textbook single-task window trap, so the running
# sum goes through the sharded two-phase prefix sum
# (operators/prefix.py): 32-way parallel local sums + a tiny offset
# table, bit-identical for integer deltas. The hourly MAX then rides a
# map-side-combinable aggregation.


def session_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.operators.prefix import sharded_running_sum

    sess = session_windows(spark, sf_dir)
    starts = sess.select(
        F.col("session_start").alias("ts"),
        F.lit(0).alias("pri"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_id",
    )
    ends = sess.select(
        F.col("session_end").alias("ts"),
        F.lit(1).alias("pri"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_id",
    )
    # materialize the sweep frame once: the sharded prefix sum consumes
    # it three times (approxQuantile boundary probe, local window,
    # offsets aggregate), and each replay re-ran the whole windowed
    # sessionization twice (starts + ends arms — the before-plan held 5
    # events scans). 2×|sessions| narrow rows: the reduced side.
    sweep = (
        starts.unionByName(ends)
        .withColumn("o", F.col("ts").cast("double"))
        .localCheckpoint(eager=True)
    )
    run = sharded_running_sum(
        sweep,
        part_cols=[],
        order_col="o",
        value_col=F.col("delta").cast("long"),
        out_col="conc",
        tiebreak_cols=["pri", "user_id", "session_id"],
    )
    return (
        run.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.max("conc").alias("peak_concurrency"))
    )


_CONCURRENCY_SQL = f"""
WITH sessions AS ({_SESSION_SQL}),
sweep AS (
  SELECT session_start AS ts, 0 AS pri, 1 AS delta, user_id, session_id
  FROM sessions
  UNION ALL
  SELECT session_end AS ts, 1 AS pri, -1 AS delta, user_id, session_id
  FROM sessions
),
run AS (
  SELECT ts,
         CAST(SUM(delta) OVER (ORDER BY ts, pri, user_id, session_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
  FROM sweep
)
SELECT date_trunc('hour', ts) AS hour, MAX(conc) AS peak_concurrency
FROM run GROUP BY 1
"""


# --- interarrival_rate_mle: point-process rate estimation --------------------
# Inter-arrival analysis per event type: gaps between a user's
# consecutive events of that type (integer microseconds — exact), then
# per-type MLE rate = 1/mean_gap and the coefficient of variation from
# closed-form integer moments (CV ≈ 1 ⇒ Poisson-like, the standard
# burstiness diagnostic for traffic modeling / load planning).
#
# Scale shape: ONE keyed window per (user, type) for the lag, then a
# map-side-combinable per-type aggregate of integer gap moments; the
# CV closed form avoids order-sensitive stddev. No global sort.


def interarrival_rate_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # gaps in SECONDS as doubles: the µs integers square past int64, and
    # the µs→sec division is one deterministic double op on identical
    # integers — same result in both engines
    gaps = (
        ev.withColumn(
            "gap_sec",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts", 1).over(w).cast("timestamp"))
            ).cast("double")
            / F.lit(1e6),
        )
        .filter(F.col("gap_sec").isNotNull())
        .select("event_type", "gap_sec")
    )
    s = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("gap_sec", "s1"),
        exact_sum("gap_sec * gap_sec", "s2"),
    )
    mean_sec = F.col("s1") / F.col("n")
    var_sec = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")) / (
        F.col("n") * (F.col("n") - F.lit(1.0))
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        mean_sec.alias("mean_gap_sec"),
        (F.lit(3600.0) / mean_sec).alias("rate_per_hour"),
        (F.sqrt(var_sec) / mean_sec).alias("cv"),
    )


_INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
         CAST(epoch_us(ts) - LAG(epoch_us(ts), 1)
           OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS DOUBLE) / 1e6 AS gap_sec
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(gap_sec AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(gap_sec * gap_sec AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) AS s2
  FROM gaps WHERE gap_sec IS NOT NULL
  GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       s1 / n AS mean_gap_sec,
       3600.0 / (s1 / n) AS rate_per_hour,
       sqrt((n * s2 - s1 * s1) / (n * (n - 1.0))) / (s1 / n) AS cv
FROM s
"""


# --- delta_encode_events: storage planning for timestamp columns ------------
# The Gorilla/parquet-DELTA_BINARY_PACKED sizing question answered
# with exact arithmetic: per user, encode the event-time column as
# first-value + zigzag-varint deltas and report the byte budget vs the
# raw int64 encoding. Everything is integer: deltas of epoch-micros,
# zigzag zz = 2|d| - [d<0], and varint width as a CASE ladder over
# 7-bit thresholds — no floats anywhere except the final ratio, so the
# cross-engine hash is exact. The diagnostic a 100 TB lake uses to
# pick encodings before a backfill rewrite.
#
# Scale: one keyed window (lag) + one groupBy(user) — the sizing pass
# costs one shuffle of (user, ts) pairs.


def delta_encode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = F.col("ts_us") - F.lag("ts_us").over(w)
    zz = 2 * F.abs(d) - F.when(d < 0, 1).otherwise(0)
    # ladder stops at 8 x 7 = 56 bits: a BIGINT zigzag is < 2^63, so
    # anything past the 56-bit threshold needs exactly 9 varint bytes
    # (1 << 63 would overflow the long literal)
    varint = F.when(zz < F.lit(1 << 7), 1)
    for b in range(2, 9):
        varint = varint.when(zz < F.lit(1 << (7 * b)), b)
    varint = varint.otherwise(9)
    enc = events.select(
        "user_id",
        F.when(d.isNull(), 8).otherwise(varint).alias("enc_bytes"),
    )
    return enc.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)) * 8).alias("raw_bytes"),
        F.sum("enc_bytes").alias("delta_bytes"),
        (
            F.sum("enc_bytes").cast("double")
            / (F.count(F.lit(1)) * 8).cast("double")
        ).alias("compression_ratio"),
    )


_DELTA_ENC_SQL = f"""
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS d
  FROM events
),
enc AS (
  SELECT user_id,
         CASE WHEN d IS NULL THEN 8
              {" ".join(
                  f"WHEN 2 * ABS(d) - (CASE WHEN d < 0 THEN 1 ELSE 0 END)"
                  f" < {1 << (7 * b)} THEN {b}"
                  for b in range(1, 9)
              )}
              ELSE 9 END AS enc_bytes
  FROM seq
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(SUM(enc_bytes) AS BIGINT) AS delta_bytes,
       CAST(SUM(enc_bytes) AS DOUBLE) / CAST(COUNT(*) * 8 AS DOUBLE)
         AS compression_ratio
FROM enc GROUP BY user_id
"""


QUERIES = {
    "delta_encode_events": delta_encode_events,
    "interarrival_rate_mle": interarrival_rate_mle,
    "window_lead_next_value": window_lead_next_value,
    "latest_event_per_user": latest_event_per_user,
    "global_argmax_latest": global_argmax_latest,
    "grouped_mse": grouped_mse,
    "json_props_extract": json_props_extract,
    "event_type_pivot": event_type_pivot,
    "tumbling_window_counts": tumbling_window_counts,
    "sliding_window_counts": sliding_window_counts,
    "session_windows": session_windows,
    "sessionize_secondary_sort": sessionize_secondary_sort,
    "linreg_next_value": linreg_next_value,
    "session_concurrency_peak": session_concurrency_peak,
}

ORACLE = {
    "delta_encode_events": _DELTA_ENC_SQL,
    "interarrival_rate_mle": _INTERARRIVAL_SQL,
    "window_lead_next_value": _LEAD_SQL,
    "latest_event_per_user": _LATEST_PER_USER_SQL,
    "global_argmax_latest": _GLOBAL_ARGMAX_SQL,
    "grouped_mse": _GROUPED_MSE_SQL,
    "json_props_extract": _JSON_PROPS_SQL,
    "event_type_pivot": _PIVOT_SQL,
    "tumbling_window_counts": _TUMBLING_SQL,
    "sliding_window_counts": _SLIDING_SQL,
    "session_windows": _SESSION_SQL,
    "sessionize_secondary_sort": _SESSION_SQL,
    "linreg_next_value": _LINREG_SQL,
    "session_concurrency_peak": _CONCURRENCY_SQL,
}
