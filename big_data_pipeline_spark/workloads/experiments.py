"""Experimentation analytics: A/B testing statistics over the event log.

The reference's analytics stop at descriptive aggregates (per-symbol
OLS, scripts/predictor.py); a production event pipeline also feeds
experiment readouts. Two canonical ops:

- ``ab_conversion_ztest``: two-proportion z-test on user-level
  conversion (variant = user_id parity — a deterministic hash split
  stand-in). Counts are integers, rates/z are closed-form scalar
  arithmetic, so the DuckDB oracle matches bit-for-bit.
- ``cuped_adjusted_lift``: CUPED variance reduction (Deng, Xu, Kohavi
  & Walker, WSDM 2013): theta = cov(pre, post)/var(pre) from exact
  moment sums, adjusted metric y - theta*(x - mean(x)), then
  per-variant means.

Scale shape: both are one user-level groupBy (shuffle on user_id,
map-side combinable) followed by a constant-size reduction — the
moment sums are a single global aggregate (no window, no collect of
row data; the 1-row theta frame joins back via broadcast). Per-user
and cross-user double sums are routed through DECIMAL(38,6) per the
repo's oracle-parity discipline (oracle.py) so the hash check is
order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import _dec_to_double_sql, exact_avg, exact_sum

# z critical value for a two-sided 95% test (shared literal so Spark
# and the oracle compare against the identical constant)
_Z_CRIT = 1.959963984540054

# "conversion" = a purchase above this value. Every fixture user has
# SOME purchase, so a bare any-purchase definition degenerates to
# p = 1.0 (zero pooled variance → divide-by-zero z); the threshold
# lands conversion near 50% at every SF (checked 0.001/0.01/0.1).
_CONV_MIN_VALUE = 150.0

# CUPED pre/post split of the one-month event window
_CUPED_SPLIT = "2024-01-16 00:00:00"
# a user's purchase value before / after the split (NULL on the other side)
_PURCHASE_VAL = "CASE WHEN event_type = 'purchase' THEN value ELSE 0.0D END"
_PRE_PURCHASE = f"CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN {_PURCHASE_VAL} END"
_POST_PURCHASE = f"CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN {_PURCHASE_VAL} END"


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: variant B vs A on purchase conversion.

    One row: per-arm user counts, conversions, rates, absolute lift,
    pooled-variance z statistic, and the 95% significance flag. The
    user-level collapse is the only shuffle; the final reduction is a
    single partial-aggregatable global agg.
    """
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    users = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > _CONV_MIN_VALUE),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    s = users.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = (rate_b - rate_a) / se
    return s.select(
        "n_a",
        "conv_a",
        rate_a.alias("rate_a"),
        "n_b",
        "conv_b",
        rate_b.alias("rate_b"),
        (rate_b - rate_a).alias("abs_lift"),
        z.alias("z_stat"),
        (F.abs(z) >= F.lit(_Z_CRIT)).alias("significant_95"),
    )


_ZTEST_SQL = f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > {_CONV_MIN_VALUE}
                  THEN 1 ELSE 0 END) AS conv,
         user_id % 2 AS variant
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, conv_a,
       CAST(conv_a AS DOUBLE) / n_a AS rate_a,
       n_b, conv_b,
       CAST(conv_b AS DOUBLE) / n_b AS rate_b,
       CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a AS abs_lift,
       (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) AS z_stat,
       abs((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
           / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))) >= {_Z_CRIT} AS significant_95
FROM s
"""


def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted per-variant purchase value.

    Per user: pre-period covariate x (purchase value before the split
    date) and post-period metric y. theta = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx*Sx) over all users, then adj = y - theta*(x - Sx/n),
    averaged per variant. Every cross-row sum is an exact decimal sum;
    the per-row arithmetic (products, theta application) is IEEE
    double, bit-identical on both engines.

    Scale: the user collapse shuffles once on user_id; the moment frame
    is ONE row (broadcast back — no second shuffle of user rows beyond
    the final per-variant agg, itself 2 groups and map-side combined).
    """
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    users = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(exact_sum(_PRE_PURCHASE), F.lit(0.0)).alias("x"),
            F.coalesce(exact_sum(_POST_PURCHASE), F.lit(0.0)).alias("y"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    stats = users.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("x", "sx"),
        exact_sum("y", "sy"),
        exact_sum("x * y", "sxy"),
        exact_sum("x * x", "sxx"),
    ).select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("theta"),
        (F.col("sx") / F.col("n")).alias("xbar"),
    )
    adj = users.crossJoin(F.broadcast(stats)).withColumn(
        "adj", F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            exact_avg("y", "mean_post"),
            exact_avg("adj", "mean_adjusted"),
            F.first("theta").alias("theta"),
        )
    )


def _cuped_sql() -> str:
    dsum = _dec_to_double_sql
    return f"""
WITH u AS (
  SELECT user_id,
         COALESCE({dsum(f"SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN CAST(pv AS DECIMAL(38,6)) END)")}, 0.0) AS x,
         COALESCE({dsum(f"SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN CAST(pv AS DECIMAL(38,6)) END)")}, 0.0) AS y,
         user_id % 2 AS variant
  FROM (
    SELECT user_id, ts,
           CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS pv
    FROM events
  ) GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum("SUM(CAST(x AS DECIMAL(38,6)))")} AS sx,
         {dsum("SUM(CAST(y AS DECIMAL(38,6)))")} AS sy,
         {dsum("SUM(CAST(x * y AS DECIMAL(38,6)))")} AS sxy,
         {dsum("SUM(CAST(x * x AS DECIMAL(38,6)))")} AS sxx
  FROM u
),
t AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         sx / n AS xbar
  FROM m
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       {dsum("SUM(CAST(y AS DECIMAL(38,6)))")} / COUNT(*) AS mean_post,
       {dsum("SUM(CAST(y - theta * (x - xbar) AS DECIMAL(38,6)))")}
         / COUNT(*) AS mean_adjusted,
       ANY_VALUE(theta) AS theta
FROM u, t
GROUP BY variant
"""


# --- srm_chi2_check: sample-ratio-mismatch guardrail ------------------------
# The first thing a trustworthy experiment readout checks (Kohavi et
# al.): does the observed assignment split match the designed ratio?
# Chi-squared goodness-of-fit against the 50/50 design; chi² >= 3.841
# (df=1, α=.05) flags a broken randomizer / logging loss. Integer
# counts → closed-form doubles, cell-exact on both engines. One
# user-level collapse, then a 1-row reduction — same scale shape as
# the z-test.

_SRM_CHI2_CRIT = 3.841458820694124


def srm_chi2_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select("user_id")
    s = (
        events.distinct()
        .withColumn("variant", F.col("user_id") % 2)
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    exp = (F.col("n_a") + F.col("n_b")).cast("double") / F.lit(2.0)
    chi2 = (F.col("n_a") - exp) * (F.col("n_a") - exp) / exp + (
        F.col("n_b") - exp
    ) * (F.col("n_b") - exp) / exp
    return s.select(
        "n_a",
        "n_b",
        exp.alias("expected_per_arm"),
        chi2.alias("chi2"),
        (chi2 >= F.lit(_SRM_CHI2_CRIT)).alias("srm_detected"),
    )


_SRM_SQL = f"""
WITH s AS (
  SELECT
    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT n_a, n_b,
       CAST(n_a + n_b AS DOUBLE) / 2.0 AS expected_per_arm,
       (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
         * (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
         / (CAST(n_a + n_b AS DOUBLE) / 2.0)
       + (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
         * (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
         / (CAST(n_a + n_b AS DOUBLE) / 2.0) AS chi2,
       (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
         * (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
         / (CAST(n_a + n_b AS DOUBLE) / 2.0)
       + (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
         * (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
         / (CAST(n_a + n_b AS DOUBLE) / 2.0) >= {_SRM_CHI2_CRIT}
         AS srm_detected
FROM s
"""


# --- did_purchase_lift: difference-in-differences ------------------------------
# The quasi-experimental twin of CUPED: per (variant, period) exact
# mean of user purchase value, DiD estimate =
# (B_post − B_pre) − (A_post − A_pre). Reuses the same user collapse
# (pre = x, post = y, decimal-exact); the 2×2 cell means are one
# 4-group map-side-combined agg, pivoted by conditional aggregation to
# a single row so the estimate is one deterministic expression.


def did_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    users = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(exact_sum(_PRE_PURCHASE), F.lit(0.0)).alias("x"),
            F.coalesce(exact_sum(_POST_PURCHASE), F.lit(0.0)).alias("y"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )

    def cell(var: int, col: str) -> F.Column:
        val = f"CASE WHEN variant = {var} THEN {col} ELSE 0.0D END"
        return exact_sum(val) / F.sum(
            F.when(F.col("variant") == var, 1).otherwise(0)
        )

    s = users.agg(
        cell(0, "x").alias("a_pre"),
        cell(0, "y").alias("a_post"),
        cell(1, "x").alias("b_pre"),
        cell(1, "y").alias("b_post"),
    )
    return s.select(
        "a_pre",
        "a_post",
        "b_pre",
        "b_post",
        (
            (F.col("b_post") - F.col("b_pre"))
            - (F.col("a_post") - F.col("a_pre"))
        ).alias("did_estimate"),
    )


def _did_sql() -> str:
    dsum = _dec_to_double_sql

    def cell(var: int, col: str) -> str:
        num = dsum(
            f"SUM(CAST(CASE WHEN variant = {var} THEN {col} "
            f"ELSE 0.0 END AS DECIMAL(38,6)))"
        )
        return f"{num} / SUM(CASE WHEN variant = {var} THEN 1 ELSE 0 END)"

    return f"""
WITH u AS (
  SELECT user_id,
         COALESCE({dsum(f"SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN CAST(pv AS DECIMAL(38,6)) END)")}, 0.0) AS x,
         COALESCE({dsum(f"SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN CAST(pv AS DECIMAL(38,6)) END)")}, 0.0) AS y,
         user_id % 2 AS variant
  FROM (
    SELECT user_id, ts,
           CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS pv
    FROM events
  ) GROUP BY user_id
),
s AS (
  SELECT {cell(0, "x")} AS a_pre,
         {cell(0, "y")} AS a_post,
         {cell(1, "x")} AS b_pre,
         {cell(1, "y")} AS b_post
  FROM u
)
SELECT a_pre, a_post, b_pre, b_post,
       (b_post - b_pre) - (a_post - a_pre) AS did_estimate
FROM s
"""


# --- delta_method_ratio_ci: ratio-metric variance ----------------------------
# Revenue-per-purchase is a RATIO of two user-level quantities, so the
# naive SE (treating events as iid) is wrong — the unit of
# randomization is the user. Delta method (Deng et al., KDD 2018):
# R = Ȳ/N̄; Var(R) ≈ (σ²_y − 2R·σ_yn + R²·σ²_n) / (n·N̄²), with the
# user-level (co)variances from exact decimal moment sums. Per
# variant: ratio, standard error, normal 95% CI. Same scale shape as
# the rest of the family — user collapse, constant-size reduction.


def delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    users = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            exact_sum("value", "y"),
            F.count(F.lit(1)).cast("double").alias("m"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    g = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("y", "sy"),
        exact_sum("m", "sm"),
        exact_sum("y * y", "syy"),
        exact_sum("y * m", "sym"),
        exact_sum("m * m", "smm"),
    )
    ybar = F.col("sy") / F.col("n")
    mbar = F.col("sm") / F.col("n")
    ratio = F.col("sy") / F.col("sm")
    var_y = F.col("syy") / F.col("n") - ybar * ybar
    cov_ym = F.col("sym") / F.col("n") - ybar * mbar
    var_m = F.col("smm") / F.col("n") - mbar * mbar
    var_r = (
        var_y - F.lit(2.0) * ratio * cov_ym + ratio * ratio * var_m
    ) / (F.col("n") * mbar * mbar)
    se = F.sqrt(var_r)
    return g.select(
        "variant",
        F.col("n").cast("bigint").alias("n_users"),
        ratio.alias("ratio"),
        se.alias("se"),
        (ratio - F.lit(_Z_CRIT) * se).alias("ci_low"),
        (ratio + F.lit(_Z_CRIT) * se).alias("ci_high"),
    )


def _delta_sql() -> str:
    dsum = _dec_to_double_sql
    ybar = "(sy / n)"
    mbar = "(sm / n)"
    ratio = "(sy / sm)"
    var_y = f"(syy / n - {ybar} * {ybar})"
    cov_ym = f"(sym / n - {ybar} * {mbar})"
    var_m = f"(smm / n - {mbar} * {mbar})"
    var_r = (
        f"(({var_y} - 2.0 * {ratio} * {cov_ym} + {ratio} * {ratio} * {var_m})"
        f" / (n * {mbar} * {mbar}))"
    )
    return f"""
WITH u AS (
  SELECT user_id,
         {dsum("SUM(CAST(value AS DECIMAL(38,6)))")} AS y,
         CAST(COUNT(*) AS DOUBLE) AS m,
         user_id % 2 AS variant
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
g AS (
  SELECT variant,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum("SUM(CAST(y AS DECIMAL(38,6)))")} AS sy,
         {dsum("SUM(CAST(m AS DECIMAL(38,6)))")} AS sm,
         {dsum("SUM(CAST(y * y AS DECIMAL(38,6)))")} AS syy,
         {dsum("SUM(CAST(y * m AS DECIMAL(38,6)))")} AS sym,
         {dsum("SUM(CAST(m * m AS DECIMAL(38,6)))")} AS smm
  FROM u GROUP BY variant
)
SELECT variant,
       CAST(n AS BIGINT) AS n_users,
       {ratio} AS ratio,
       sqrt({var_r}) AS se,
       {ratio} - {_Z_CRIT} * sqrt({var_r}) AS ci_low,
       {ratio} + {_Z_CRIT} * sqrt({var_r}) AS ci_high
FROM g
"""


# --- ab_power_mde: sensitivity planning from observed traffic ----------------
# The pre-experiment readout: with the traffic and base conversion the
# log actually shows, what's the minimum detectable effect at 80%
# power / 95% two-sided confidence? MDE = (z_{α/2} + z_β) ·
# sqrt(2·p(1−p)/n) with n = min arm size — closed-form from the same
# integer user counts as the z-test, so it's cell-exact.

_Z_BETA_80 = 0.8416212335729143


def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    users = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > _CONV_MIN_VALUE),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    s = users.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    p = F.col("n_conv").cast("double") / (F.col("n_a") + F.col("n_b"))
    n_min = F.least("n_a", "n_b").cast("double")
    mde = (
        F.lit(_Z_CRIT + _Z_BETA_80)
        * F.sqrt(F.lit(2.0) * p * (F.lit(1.0) - p) / n_min)
    )
    return s.select(
        "n_a",
        "n_b",
        p.alias("base_rate"),
        mde.alias("mde_abs"),
        (mde / p).alias("mde_rel"),
    )


_POWER_SQL = f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > {_CONV_MIN_VALUE}
                  THEN 1 ELSE 0 END) AS conv,
         user_id % 2 AS variant
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM u
)
SELECT n_a, n_b,
       CAST(n_conv AS DOUBLE) / (n_a + n_b) AS base_rate,
       {_Z_CRIT + _Z_BETA_80}
         * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(n_conv AS DOUBLE) / (n_a + n_b))
                / CAST(LEAST(n_a, n_b) AS DOUBLE)) AS mde_abs,
       ({_Z_CRIT + _Z_BETA_80}
         * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(n_conv AS DOUBLE) / (n_a + n_b))
                / CAST(LEAST(n_a, n_b) AS DOUBLE)))
         / (CAST(n_conv AS DOUBLE) / (n_a + n_b)) AS mde_rel
FROM s
"""


QUERIES = {
    "ab_conversion_ztest": ab_conversion_ztest,
    "cuped_adjusted_lift": cuped_adjusted_lift,
    "srm_chi2_check": srm_chi2_check,
    "did_purchase_lift": did_purchase_lift,
    "delta_method_ratio_ci": delta_method_ratio_ci,
    "ab_power_mde": ab_power_mde,
}

ORACLE = {
    "ab_conversion_ztest": _ZTEST_SQL,
    "cuped_adjusted_lift": _cuped_sql(),
    "srm_chi2_check": _SRM_SQL,
    "did_purchase_lift": _did_sql(),
    "delta_method_ratio_ci": _delta_sql(),
    "ab_power_mde": _POWER_SQL,
}
