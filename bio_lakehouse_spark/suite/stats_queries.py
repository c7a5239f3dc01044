"""Statistical operator queries (SURVEY.md §2.9 ST1-ST16).

Each is the distributed closed-form re-expression of a scipy/pandas
computation in the reference — aggregates all the way down, no
driver-side math in the query path. Where only scipy has the exact
quantity (t-distribution p-values), the closed-form stat (r, t, U, z)
is the engine output and the p-value lookup is a presentation concern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.stats import (
    bayesian_effect,
    linear_predictor,
    logistic_gd_fit,
    mann_whitney_u,
    pearson_ols,
    sigmoid,
    spearman,
    trend_slope,
    zscore_anomalies,
)
from bio_lakehouse_spark.suite.registry import load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

# Spearman ρ from EXACT rank sums (average ranks are half-integers →
# every SUM below is integer-exact and summation-order-independent in
# both engines; the streaming CORR aggregate is order-sensitive at the
# ulp and flipped a 6-decimal ROUND boundary run-to-run under DuckDB's
# multithreaded aggregation — r9 sf0.1 sweep). NULL when either rank
# variance is zero, matching CORR's constant-input behavior.
_RANK_RHO_SQL = """CASE WHEN (COUNT(*) * SUM(rx * rx) - SUM(rx) * SUM(rx))
                * (COUNT(*) * SUM(ry * ry) - SUM(ry) * SUM(ry)) > 0
       THEN ROUND((COUNT(*) * SUM(rx * ry) - SUM(rx) * SUM(ry))
            / SQRT((COUNT(*) * SUM(rx * rx) - SUM(rx) * SUM(rx))
                 * (COUNT(*) * SUM(ry * ry) - SUM(ry) * SUM(ry))), 6)
       END"""

# Daily click-value → next-day purchase-value: the generic form of the
# reference's "sleep score → next-day readiness" lagged pairing.
_LAGGED_PAIR_CTE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y0
  FROM events GROUP BY 1
), paired AS (
  SELECT date, x, LEAD(y0, 1) OVER (ORDER BY date) AS y
  FROM daily
)
"""


def _lagged_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("y0"),
    )
    return daily.withColumn(
        "y", F.lead("y0", 1).over(Window.orderBy("date"))
    ).select("date", "x", "y")


@register(
    "pearson_ols_lagged",
    survey=("ST1", "ST4"),
    oracle=_LAGGED_PAIR_CTE
    + """
SELECT COUNT(*) AS n,
       ROUND(CORR(x, y), 6) AS r,
       ROUND(COVAR_SAMP(x, y) / VAR_SAMP(x), 6) AS slope,
       ROUND(AVG(y) - COVAR_SAMP(x, y) / VAR_SAMP(x) * AVG(x), 6) AS intercept,
       ROUND(CORR(x, y) * SQRT((COUNT(*) - 2) / (1 - CORR(x, y) * CORR(x, y))), 6) AS t_stat
FROM paired WHERE x IS NOT NULL AND y IS NOT NULL
""",
)
def pearson_ols_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r + OLS slope/intercept + t statistic on a lagged pair
    (ST1 — scipy.pearsonr/linregress in sleep_readiness.py:58-82,
    lag construction per the ST4 discovery scan), fully closed-form
    distributed aggregates."""
    pairs = _lagged_pairs(spark, sf_dir)
    out = pearson_ols(pairs, "x", "y")
    return out.select(
        "n",
        R6(F.col("r")).alias("r"),
        R6(F.col("slope")).alias("slope"),
        R6(F.col("intercept")).alias("intercept"),
        R6(F.col("t_stat")).alias("t_stat"),
    )


@register(
    "spearman_rho",
    survey=("ST2",),
    oracle=_LAGGED_PAIR_CTE
    + f""", ranked AS (
  SELECT x, y,
         RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
         RANK() OVER (ORDER BY y) + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
  FROM paired WHERE x IS NOT NULL AND y IS NOT NULL
)
SELECT COUNT(*) AS n, {_RANK_RHO_SQL} AS rho
FROM ranked
""",
)
def spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ as Pearson-of-average-ranks, exact under ties (ST2 —
    scipy.spearmanr in timing_correlation.py:102): two rank windows +
    one exact-sums aggregate (see operators/stats.spearman — the
    streaming CORR is summation-order-sensitive at ROUND boundaries),
    no pandas."""
    pairs = _lagged_pairs(spark, sf_dir)
    out = spearman(pairs, "x", "y")
    return out.select("n", R6(F.col("rho")).alias("rho"))


@register(
    "mann_whitney_groups",
    survey=("ST3",),
    oracle="""
WITH pool AS (
  SELECT event_type, value,
         RANK() OVER (ORDER BY value) + (COUNT(*) OVER (PARTITION BY value) - 1) / 2.0 AS r
  FROM events WHERE event_type IN ('click', 'error') AND value IS NOT NULL
), ties AS (
  SELECT SUM(POWER(t, 3) - t) AS tie_sum FROM (
    SELECT COUNT(*) AS t FROM pool GROUP BY value
  )
), agg AS (
  SELECT SUM(CASE WHEN event_type = 'click' THEN r END) AS r1,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n2
  FROM pool
)
SELECT n1, n2,
       ROUND(r1 - n1 * (n1 + 1) / 2, 6) AS u1,
       ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
             / SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1) - tie_sum / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z
FROM agg, ties
""",
)
def mann_whitney_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (tie-corrected normal approximation) comparing
    two groups' value distributions (ST3 — scipy.mannwhitneyu in
    workout_recovery.py:98-110), via pooled fractional ranks —
    distributed, closed form."""
    ev = load(spark, sf_dir, "events")
    out = mann_whitney_u(ev, value="value", group="event_type", group_a="click", group_b="error")
    return out.select(
        "n1", "n2", R6(F.col("u1")).alias("u1"), R6(F.col("z")).alias("z")
    )


@register(
    "threshold_effect_scan",
    survey=("ST5", "A13"),
    oracle=_LAGGED_PAIR_CTE
    + """, thresh AS (
  SELECT QUANTILE_CONT(x, 0.75) AS p75 FROM paired WHERE y IS NOT NULL
)
SELECT CASE WHEN x >= p75 THEN 'above_p75' ELSE 'below_p75' END AS trigger_group,
       COUNT(*) AS n,
       ROUND(AVG(y), 6) AS mean_next_day,
       ROUND(STDDEV(y), 6) AS std_next_day
FROM paired, thresh
WHERE y IS NOT NULL
GROUP BY 1
""",
)
def threshold_effect_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-effect analysis (ST5 — correlation_discovery
    .py:442-536): 75th-percentile trigger split → next-day outcome
    group stats. Percentile computed once, broadcast back."""
    pairs = _lagged_pairs(spark, sf_dir).filter(F.col("y").isNotNull())
    p75 = pairs.agg(
        F.percentile(F.col("x"), F.lit(0.75)).alias("p75")
    )
    return (
        pairs.crossJoin(F.broadcast(p75))
        .withColumn(
            "trigger_group",
            F.when(F.col("x") >= F.col("p75"), "above_p75").otherwise(
                "below_p75"
            ),
        )
        .groupBy("trigger_group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R6(F.avg("y")).alias("mean_next_day"),
            R6(F.stddev("y")).alias("std_next_day"),
        )
    )


@register(
    "zscore_anomaly_days",
    survey=("ST6", "P8"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, SUM(value) AS daily_value
  FROM events GROUP BY 1
), stats AS (
  SELECT AVG(daily_value) AS mean, STDDEV(daily_value) AS std FROM daily
)
SELECT date, ROUND(daily_value, 6) AS daily_value,
       ROUND((daily_value - mean) / std, 6) AS deviation_sigmas
FROM daily, stats
WHERE daily_value < mean - 1.5 * std
""",
)
def zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly days below mean − 1.5σ (ST6 —
    anomaly_detection.py:40-85 / the SQL variant in health_alerts
    handler.py:132-172): one global aggregate broadcast back over the
    series — no self-shuffle."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum("value").alias("daily_value")
    )
    out = zscore_anomalies(daily, "daily_value", threshold_sigmas=1.5)
    return out.select(
        "date",
        R6(F.col("daily_value")).alias("daily_value"),
        R6(F.col("deviation_sigmas")).alias("deviation_sigmas"),
    )


@register(
    "trend_slope_class",
    survey=("ST7",),
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date, SUM(value) AS daily_value
  FROM events GROUP BY 1, 2
), indexed AS (
  SELECT user_id, daily_value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date) AS DOUBLE) AS day_idx
  FROM daily
)
SELECT user_id,
       ROUND(REGR_SLOPE(daily_value, day_idx), 6) AS slope,
       CAST(REGR_COUNT(daily_value, day_idx) AS BIGINT) AS n,
       CASE WHEN REGR_SLOPE(daily_value, day_idx) > 0.3 THEN 'improving'
            WHEN REGR_SLOPE(daily_value, day_idx) < -0.3 THEN 'declining'
            ELSE 'stable' END AS trend
FROM indexed GROUP BY user_id
""",
)
def trend_slope_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity OLS trend slope classified improving/stable/declining
    at ±0.3 (ST7 — readiness_trend.py:43-64) with the native
    regr_slope aggregate over a row-number day index."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        F.sum("value").alias("daily_value")
    )
    indexed = daily.withColumn(
        "day_idx",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("date"))
        .cast("double"),
    )
    out = trend_slope(indexed, x="day_idx", y="daily_value", group_cols=["user_id"])
    return out.select(
        "user_id",
        R6(F.col("slope")).alias("slope"),
        F.col("n").cast("long").alias("n"),
        "trend",
    )


@register(
    "bayesian_pre_post",
    survey=("ST10",),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, SUM(value) AS daily_value,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'pre' ELSE 'post' END AS period
  FROM events GROUP BY 1, 3
), g AS (
  SELECT AVG(CASE WHEN period = 'pre' THEN daily_value END) AS pre_mean,
         STDDEV(CASE WHEN period = 'pre' THEN daily_value END) AS pre_std,
         COUNT(CASE WHEN period = 'pre' THEN 1 END) AS n_pre,
         AVG(CASE WHEN period = 'post' THEN daily_value END) AS post_mean,
         STDDEV(CASE WHEN period = 'post' THEN daily_value END) AS post_std,
         COUNT(CASE WHEN period = 'post' THEN 1 END) AS n_post
  FROM daily
), calc AS (
  SELECT *,
         pre_std * pre_std AS prior_var,
         post_std * post_std / n_post AS like_var
  FROM g
), post AS (
  SELECT *,
         1 / (1 / prior_var + 1 / like_var) AS post_var,
         (pre_mean / prior_var + post_mean / like_var)
           / (1 / prior_var + 1 / like_var) AS post_mean_updated
  FROM calc
)
SELECT ROUND(post_mean_updated - pre_mean, 6) AS effect,
       ROUND(post_mean_updated - pre_mean - 1.96 * SQRT(post_var), 6) AS ci_low,
       ROUND(post_mean_updated - pre_mean + 1.96 * SQRT(post_var), 6) AS ci_high,
       ROUND((post_mean_updated - pre_mean)
             / SQRT(((n_pre - 1) * pre_std * pre_std + (n_post - 1) * post_std * post_std)
                    / (n_pre + n_post - 2)), 6) AS cohens_d,
       n_pre, n_post
FROM post
""",
)
def bayesian_pre_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian Normal-Normal pre/post experiment update (ST10 —
    experiments/analyzer.py:105-171): posterior effect, 95% CI,
    Cohen's d — one pivot aggregate, all closed form."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum("value").alias("daily_value")
    )
    daily = daily.withColumn(
        "period",
        F.when(F.col("date") < F.lit("2024-01-16").cast("date"), "pre").otherwise(
            "post"
        ),
    )
    out = bayesian_effect(daily, "daily_value", "period")
    return out.select(
        R6(F.col("effect")).alias("effect"),
        R6(F.col("ci_low")).alias("ci_low"),
        R6(F.col("ci_high")).alias("ci_high"),
        R6(F.col("cohens_d")).alias("cohens_d"),
        "n_pre",
        "n_post",
    )


@register(
    "did_pre_post",
    survey=("ST11",),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type,
         SUM(value) AS v,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1 END AS post
  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2, 4
)
SELECT
  ROUND(AVG(CASE WHEN event_type = 'purchase' AND post = 1 THEN v END)
      - AVG(CASE WHEN event_type = 'purchase' AND post = 0 THEN v END)
      - (AVG(CASE WHEN event_type = 'click' AND post = 1 THEN v END)
       - AVG(CASE WHEN event_type = 'click' AND post = 0 THEN v END)), 6) AS did_effect,
  ROUND(AVG(CASE WHEN event_type = 'purchase' AND post = 0 THEN v END), 6) AS treated_pre,
  ROUND(AVG(CASE WHEN event_type = 'purchase' AND post = 1 THEN v END), 6) AS treated_post,
  ROUND(AVG(CASE WHEN event_type = 'click' AND post = 0 THEN v END), 6) AS control_pre,
  ROUND(AVG(CASE WHEN event_type = 'click' AND post = 1 THEN v END), 6) AS control_post
FROM daily
""",
)
def did_pre_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-Differences effect over a treated/control series
    pair (ST11 — experiments/analyzer.py:174-226): four conditional
    means, one aggregate pass."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("date"),
        "event_type",
        F.when(
            F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
        )
        .otherwise(1)
        .alias("post"),
    ).agg(F.sum("value").alias("v"))

    def m(etype: str, post: int):
        return F.avg(
            F.when(
                (F.col("event_type") == etype) & (F.col("post") == post),
                F.col("v"),
            )
        )

    return daily.agg(
        R6(
            (m("purchase", 1) - m("purchase", 0))
            - (m("click", 1) - m("click", 0))
        ).alias("did_effect"),
        R6(m("purchase", 0)).alias("treated_pre"),
        R6(m("purchase", 1)).alias("treated_post"),
        R6(m("click", 0)).alias("control_pre"),
        R6(m("click", 1)).alias("control_post"),
    )


@register(
    "progressive_overload_weekly",
    survey=("ST16", "A9", "W4"),
    oracle="""
WITH weekly AS (
  SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week_start,
         SUM(value) AS total_value,
         COUNT(*) AS n_events,
         AVG(value) AS avg_value
  FROM events GROUP BY 1
), lagged AS (
  SELECT week_start, total_value, n_events, avg_value,
         LAG(total_value) OVER (ORDER BY week_start) AS prev_total,
         LAG(n_events) OVER (ORDER BY week_start) AS prev_n,
         LAG(avg_value) OVER (ORDER BY week_start) AS prev_avg
  FROM weekly
)
SELECT week_start,
       ROUND(total_value, 6) AS total_value,
       ROUND((total_value - prev_total) / prev_total * 100, 6) AS total_pct_change,
       ROUND((avg_value - prev_avg) / prev_avg * 100, 6) AS avg_pct_change,
       CAST(n_events - prev_n AS BIGINT) AS events_diff,
       CASE WHEN (CASE WHEN (total_value - prev_total) / prev_total > 0.02 THEN 1 ELSE 0 END
                + CASE WHEN n_events > prev_n THEN 1 ELSE 0 END
                + CASE WHEN (avg_value - prev_avg) / prev_avg > 0.01 THEN 1 ELSE 0 END) >= 2
            THEN 'progressing'
            WHEN (CASE WHEN (total_value - prev_total) / prev_total < -0.02 THEN 1 ELSE 0 END
                + CASE WHEN n_events < prev_n THEN 1 ELSE 0 END
                + CASE WHEN (avg_value - prev_avg) / prev_avg < -0.01 THEN 1 ELSE 0 END) >= 2
            THEN 'regressing'
            ELSE 'maintaining' END AS classification
FROM lagged
""",
)
def progressive_overload_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-overload weekly classification (ST16 —
    progressive_overload.py:151-219): weekly aggregates, week-over-week
    pct changes via LAG, ≥2-of-3 threshold votes → label."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(
        F.sum("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.avg("value").alias("avg_value"),
    )
    w = Window.orderBy("week_start")
    lagged = weekly.select(
        "week_start",
        "total_value",
        "n_events",
        "avg_value",
        F.lag("total_value").over(w).alias("prev_total"),
        F.lag("n_events").over(w).alias("prev_n"),
        F.lag("avg_value").over(w).alias("prev_avg"),
    )
    # try_divide (r12 ANSI audit): a week whose value sum is
    # exactly 0 (all-zero or all-NULL metric) makes the next week's
    # pct-change undefined → NULL, which the vote whens treat as
    # "no vote" — not a job abort.
    total_chg = F.try_divide(
        F.col("total_value") - F.col("prev_total"), F.col("prev_total")
    )
    avg_chg = F.try_divide(
        F.col("avg_value") - F.col("prev_avg"), F.col("prev_avg")
    )
    up_votes = (
        F.when(total_chg > 0.02, 1).otherwise(0)
        + F.when(F.col("n_events") > F.col("prev_n"), 1).otherwise(0)
        + F.when(avg_chg > 0.01, 1).otherwise(0)
    )
    down_votes = (
        F.when(total_chg < -0.02, 1).otherwise(0)
        + F.when(F.col("n_events") < F.col("prev_n"), 1).otherwise(0)
        + F.when(avg_chg < -0.01, 1).otherwise(0)
    )
    return lagged.select(
        "week_start",
        R6(F.col("total_value")).alias("total_value"),
        R6(total_chg * 100).alias("total_pct_change"),
        R6(avg_chg * 100).alias("avg_pct_change"),
        (F.col("n_events") - F.col("prev_n")).cast("long").alias("events_diff"),
        F.when(up_votes >= 2, "progressing")
        .when(down_votes >= 2, "regressing")
        .otherwise("maintaining")
        .alias("classification"),
    )


# 30-minute-gap sessions: lag → new-session flag → per-user running
# sum, one `session_id` per event.
_SESSIONS_CTE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)"""


def _sessions_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SESSIONS_CTE``: the events with their
    `new_session` flag and per-user `session_id`. The gap is compared
    in microseconds, the timestamps' own precision: whole seconds
    would merge a gap in (1800 s, 1801 s) that the oracle splits."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag(F.col("ts")).over(w))
                > 1800 * 1_000_000
            )
            | F.lag(F.col("ts")).over(w).isNull(),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


@register(
    "sessionize_gap30",
    survey=("W4", "A1"),
    oracle=_SESSIONS_CTE + """, per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         DATE_DIFF('second', MIN(ts), MAX(ts)) AS duration_s
  FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       ROUND(AVG(duration_s), 6) AS avg_session_duration_s
FROM per_session GROUP BY user_id
""",
)
def sessionize_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via
    lag→flag→cumsum — the batch twin of the streaming session-window
    operator in `streaming/` (the reference is batch-only, §2.10; this
    is the training-pipeline extension). Fully window-expressible: no
    shuffle beyond the user_id partition. Sessions come from
    ``_sessions_gap30``, which compares gaps in microseconds."""
    sessions = _sessions_gap30(spark, sf_dir)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
        R6(F.avg("duration_s")).alias("avg_session_duration_s"),
    )


# ---------------------------------------------------------------------------
# ST8 LOWESS / ST13 feature selection / ST14 walk-forward CV. LOWESS
# and the MI ranking are distributed closed forms with full DuckDB
# oracles (converted from rows-only in round 4); the model-zoo solvers
# (GBM/ElasticNet iterations) remain rows-only with their scaffolding
# driver-hashed via the *_audit twins.
# ---------------------------------------------------------------------------


@register(
    "lowess_daily_trend",
    survey=("ST8",),
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(SUM(value), 6) AS y
  FROM events GROUP BY 1
), r AS (
  SELECT date, y,
         CAST(ROW_NUMBER() OVER (ORDER BY date) - 1 AS DOUBLE) AS x,
         COUNT(*) OVER () AS n
  FROM d
), pairs AS (
  SELECT a.date AS adate, a.x AS ax, a.y AS ay, a.n,
         p.x AS px, p.y AS py, ABS(a.x - p.x) AS dist,
         ROW_NUMBER() OVER (PARTITION BY a.x
                            ORDER BY ABS(a.x - p.x), p.x) AS rnk
  FROM r a CROSS JOIN r p
), nn AS (
  SELECT adate, ax, ay, px, py, dist,
         MAX(dist) OVER (PARTITION BY ax) AS dmax
  FROM pairs
  WHERE rnk <= GREATEST(2, CAST(CEIL(0.6 * n) AS BIGINT))
), w AS (
  SELECT adate, ax, ay, px, py,
         (1 - (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
            * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
            * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END)))
         * (1 - (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
              * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
              * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END)))
         * (1 - (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
              * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))
              * (dist / (CASE WHEN dmax > 0 THEN dmax ELSE 1 END))) AS w
  FROM nn
), agg AS (
  SELECT adate, ax, ay,
         SUM(w) AS sw, SUM(w * px) AS swx, SUM(w * py) AS swy,
         SUM(w * px * px) AS swxx, SUM(w * px * py) AS swxy
  FROM w GROUP BY 1, 2, 3
)
SELECT adate AS date, ROUND(ay, 6) AS daily_value,
       ROUND(CASE WHEN swxx - sw * (swx / sw) * (swx / sw) > 0
             THEN swy / sw
                  + ((swxy - sw * (swx / sw) * (swy / sw))
                     / (swxx - sw * (swx / sw) * (swx / sw)))
                    * (ax - swx / sw)
             ELSE swy / sw END, 6) AS lowess_fit
FROM agg
""",
)
def lowess_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWESS smooth of the global daily event value (ST8 — ref
    insights/timing_correlation.py:185-205), as a DISTRIBUTED closed
    form: the tricube-weighted local linear fit at each anchor is a
    k-nearest-neighbour selection (row_number over |Δx|, ties broken
    by position — deterministic on both engines) followed by one
    weighted-moment aggregation per anchor. frac=0.6 → k=⌈0.6·n⌉.
    Converted from rows-only in round 4; the driver now hash-checks
    every fitted value against DuckDB running the identical closed
    form. Cubes are spelled as explicit products (libm `pow` is not
    bit-identical across engines; `*` is IEEE-exact). The daily-grain
    series keeps the pair table at n² ≈ 10⁴ rows per metric even when
    the raw events are 100 TB — the aggregation below it is what
    scales."""
    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(R6(F.sum("value")).alias("y"))
    )
    r = d.select(
        "date", "y",
        (F.row_number().over(Window.orderBy("date")) - 1)
        .cast("double").alias("x"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    a = r.select(
        F.col("date").alias("adate"), F.col("x").alias("ax"),
        F.col("y").alias("ay"), "n",
    )
    p = r.select(F.col("x").alias("px"), F.col("y").alias("py"))
    dist = F.abs(F.col("ax") - F.col("px"))
    pairs = a.crossJoin(p).select(
        "adate", "ax", "ay", "n", "px", "py", dist.alias("dist"),
        F.row_number()
        .over(Window.partitionBy("ax").orderBy(dist, "px"))
        .alias("rnk"),
    )
    k = F.greatest(F.lit(2), F.ceil(0.6 * F.col("n")).cast("long"))
    nn = pairs.filter(F.col("rnk") <= k).select(
        "adate", "ax", "ay", "px", "py", "dist",
        F.max("dist").over(Window.partitionBy("ax")).alias("dmax"),
    )
    safe_dmax = F.when(F.col("dmax") > 0, F.col("dmax")).otherwise(F.lit(1.0))
    t = F.col("dist") / safe_dmax
    u = F.lit(1.0) - t * t * t
    agg = nn.withColumn("w", u * u * u).groupBy("adate", "ax", "ay").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("px")).alias("swx"),
        F.sum(F.col("w") * F.col("py")).alias("swy"),
        F.sum(F.col("w") * F.col("px") * F.col("px")).alias("swxx"),
        F.sum(F.col("w") * F.col("px") * F.col("py")).alias("swxy"),
    )
    # try_divide (r12 ANSI audit): when every neighbor in the
    # window sits exactly AT dmax (tied x values), all tricube
    # weights are 0 and sw = 0 — the local fit is undefined → NULL
    # (vx goes NULL too, so `fitted` falls back via its when-guard).
    mx = F.try_divide(F.col("swx"), F.col("sw"))
    my = F.try_divide(F.col("swy"), F.col("sw"))
    vx = F.col("swxx") - F.col("sw") * mx * mx
    b = (F.col("swxy") - F.col("sw") * mx * my) / vx
    fitted = F.when(vx > 0, my + b * (F.col("ax") - mx)).otherwise(my)
    return agg.select(
        F.col("adate").alias("date"),
        R6(F.col("ay")).alias("daily_value"),
        R6(fitted).alias("lowess_fit"),
    )


_MI_DAILY_CTE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         ROUND(SUM(value), 6) AS y,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         CAST(COUNT(*) FILTER (event_type = 'click') AS DOUBLE) AS n_clicks,
         CAST(COUNT(*) FILTER (event_type = 'error') AS DOUBLE) AS n_errors,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0), 6) AS purchase_value,
         ROUND(AVG(value), 6) AS avg_value
  FROM events GROUP BY 1, 2
), long AS (
  SELECT 'n_events' AS feature, n_events AS v, y FROM daily
  UNION ALL SELECT 'n_clicks', n_clicks, y FROM daily
  UNION ALL SELECT 'n_errors', n_errors, y FROM daily
  UNION ALL SELECT 'purchase_value', purchase_value, y FROM daily
  UNION ALL SELECT 'avg_value', avg_value, y FROM daily
)
"""


@register(
    "feature_selection_mi",
    survey=("ST13",),
    oracle=_MI_DAILY_CTE
    + """
, s AS (
  SELECT feature, v, y,
         MIN(v) OVER pf AS mnv, MAX(v) OVER pf AS mxv,
         MIN(y) OVER pf AS mny, MAX(y) OVER pf AS mxy
  FROM long
  WINDOW pf AS (PARTITION BY feature)
), b AS (
  SELECT feature,
         LEAST(CAST(FLOOR((v - mnv) * 8 / NULLIF(mxv - mnv, 0)) AS BIGINT), 7) AS bx,
         LEAST(CAST(FLOOR((y - mny) * 8 / NULLIF(mxy - mny, 0)) AS BIGINT), 7) AS byy
  FROM s
), j AS (
  SELECT feature, bx, byy, CAST(COUNT(*) AS DOUBLE) AS c
  FROM b GROUP BY 1, 2, 3
), t AS (
  SELECT feature, c,
         SUM(c) OVER (PARTITION BY feature) AS n,
         SUM(c) OVER (PARTITION BY feature, bx) AS cx,
         SUM(c) OVER (PARTITION BY feature, byy) AS cy
  FROM j
), mi AS (
  SELECT feature,
         ROUND(SUM((c / n) * LN((c / n) / ((cx / n) * (cy / n)))), 6) AS mi,
         CAST(MAX(n) AS BIGINT) AS n_rows
  FROM t GROUP BY feature
)
SELECT feature, mi, n_rows,
       CAST(ROW_NUMBER() OVER (ORDER BY mi DESC, feature) AS BIGINT) AS mi_rank
FROM mi
""",
)
def feature_selection_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI feature ranking (ST13 — ref models/readiness_predictor/
    feature_selection.py:21-158), as a DISTRIBUTED closed form: the
    per-user daily feature frame is unpivoted long (stack — one scan),
    then the 8×8 equal-width joint histogram and Σ p·ln(p/(px·py))
    run per feature inside feature-keyed aggregations — MI for all
    features in one shuffle, no driver-side numpy; per-feature min/max
    bin edges come from a ONE-ROW broadcast global stat, not a
    feature-partitioned window (5 distinct features would serialize
    the frame into ≤5 sort tasks at cluster scale). Converted from
    rows-only in round 4: the driver now hash-checks every MI value
    and rank. The greedy |r|>0.85 redundancy filter on top of this
    ranking (select_features) is a products-layer decision over these
    5 rows, pinned by tests/test_products.py. Continuous features are
    rounded to 6 before binning so bin-edge arithmetic is
    IEEE-identical cross-engine."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        R6(F.sum("value")).alias("y"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("double").alias("n_clicks"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("double").alias("n_errors"),
        R6(
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ),
                F.lit(0.0),
            )
        ).alias("purchase_value"),
        R6(F.avg("value")).alias("avg_value"),
    )
    feats = ["n_events", "n_clicks", "n_errors",
             "purchase_value", "avg_value"]
    # Per-feature min/max as a ONE-ROW global stat broadcast back onto
    # the daily frame (r7). The r5 form computed them with a min/max
    # window PARTITIONED BY FEATURE over the stacked long frame: with
    # only 5 distinct features that window funnels the entire frame
    # through ≤5 sort tasks — a parallelism collapse at cluster scale
    # (1000 executors, 5 busy). The broadcast stat keeps every stage
    # embarrassingly parallel; daily is localCheckpoint'ed so events
    # is still scanned exactly once for both branches.
    daily = daily.localCheckpoint()
    gm = daily.agg(
        *[F.min(c).alias(f"mn_{c}") for c in feats],
        *[F.max(c).alias(f"mx_{c}") for c in feats],
        F.min("y").alias("mny"), F.max("y").alias("mxy"),
    )
    aug = daily.crossJoin(F.broadcast(gm))

    def bin8(v, mn, mx):
        return F.least(
            F.floor(
                (F.col(v) - F.col(mn)) * 8
                / F.nullif(F.col(mx) - F.col(mn), F.lit(0))
            ).cast("long"),
            F.lit(7),
        )

    pf = Window.partitionBy("feature")
    b = aug.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("feature"),
                    bin8(c, f"mn_{c}", f"mx_{c}").alias("bx"),
                )
                for c in feats
            ])
        ).alias("fb"),
        bin8("y", "mny", "mxy").alias("byy"),
    ).select(
        F.col("fb.feature").alias("feature"),
        F.col("fb.bx").alias("bx"),
        "byy",
    )
    j = b.groupBy("feature", "bx", "byy").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    t = j.select(
        "feature", "c",
        F.sum("c").over(pf).alias("n"),
        F.sum("c").over(Window.partitionBy("feature", "bx")).alias("cx"),
        F.sum("c").over(Window.partitionBy("feature", "byy")).alias("cy"),
    )
    p = F.col("c") / F.col("n")
    mi = t.groupBy("feature").agg(
        R6(
            F.sum(
                p * F.log(p / ((F.col("cx") / F.col("n"))
                               * (F.col("cy") / F.col("n"))))
            )
        ).alias("mi"),
        F.max("n").cast("long").alias("n_rows"),
    )
    return mi.select(
        "feature", "mi", "n_rows",
        F.row_number()
        .over(Window.orderBy(F.col("mi").desc(), "feature"))
        .cast("long").alias("mi_rank"),
    )


def _det3(m: list[list[str]]) -> str:
    """Fully-parenthesized 3×3 determinant over SQL sub-expressions
    (first-row cofactor expansion, 2×2 minors as (ps−qr)). The SAME
    string is evaluated by Spark's F.expr and by DuckDB, so both
    engines execute an identical IEEE-double expression tree —
    neither optimizer reassociates float arithmetic."""
    (a, b, c), (d, e, f), (g, h, i) = m

    def m2(p, q, r, s):
        return f"(({p})*({s})-({q})*({r}))"

    return (
        f"(({a})*{m2(e, f, h, i)}-({b})*{m2(d, f, g, i)}"
        f"+({c})*{m2(d, e, g, h)})"
    )


def _det4(m: list[list[str]]) -> str:
    """4×4 determinant by first-row cofactor expansion over _det3."""
    parts = []
    for j in range(4):
        minor = [[m[r][c] for c in range(4) if c != j] for r in range(1, 4)]
        sign = "-" if j % 2 else "+"
        parts.append(f"{sign}({m[0][j]})*{_det3(minor)}")
    return "(" + "".join(parts).lstrip("+") + ")"


def _ridge_cramer_sql() -> dict[str, str]:
    """Cramer's-rule solution of the 3-feature ridge normal equations
    (XᵀX + αI with UNPENALIZED intercept, α=1.0 — exactly
    products.numerics.ridge_closed_form) as SQL strings over the
    fold's cumulative sufficient-statistic columns
    s1..s3, sy, s11..s23, s1y..s3y, n."""
    A = [
        ["(s11+1.0)", "s12", "s13", "s1"],
        ["s12", "(s22+1.0)", "s23", "s2"],
        ["s13", "s23", "(s33+1.0)", "s3"],
        ["s1", "s2", "s3", "n"],
    ]
    rhs = ["s1y", "s2y", "s3y", "sy"]

    def replaced(i):
        return [
            [rhs[r] if c == i else A[r][c] for c in range(4)]
            for r in range(4)
        ]

    return {
        "det": _det4(A),
        "d1": _det4(replaced(0)),
        "d2": _det4(replaced(1)),
        "d3": _det4(replaced(2)),
        "d0": _det4(replaced(3)),
    }


_RIDGE = _ridge_cramer_sql()

# Per-day event totals (date, total_value, n_events, avg_value) the
# daily regression audits fit on.
_DAILY_EVENTS_CTE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS date,
         ROUND(SUM(value), 6) AS total_value,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         ROUND(AVG(value), 6) AS avg_value
  FROM events GROUP BY 1
)"""


def _daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DAILY_EVENTS_CTE``."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("date")).agg(
        R6(F.sum("value")).alias("total_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        R6(F.avg("value")).alias("avg_value"),
    )


# CTE chain ending in `scored` (one row per walk-forward test point
# with y, ridge pred, and the fold's naive trailing-mean pred) —
# shared by the per-fold oracle (walk_forward_cv_daily) and the
# aggregate model-zoo ridge audit.
_WF_SCORED_CTE = _DAILY_EVENTS_CTE + f""", r AS (
  SELECT ROW_NUMBER() OVER (ORDER BY date) AS rn,
         total_value AS x1, n_events AS x2, avg_value AS x3,
         LEAD(total_value) OVER (ORDER BY date) AS y
  FROM d
), s AS (
  SELECT rn, x1, x2, x3, y FROM r WHERE y IS NOT NULL
), c AS (
  SELECT rn, x1, x2, x3, y,
         CAST(rn AS DOUBLE) AS n,
         SUM(x1) OVER w AS s1, SUM(x2) OVER w AS s2,
         SUM(x3) OVER w AS s3, SUM(y) OVER w AS sy,
         SUM(x1*x1) OVER w AS s11, SUM(x2*x2) OVER w AS s22,
         SUM(x3*x3) OVER w AS s33, SUM(x1*x2) OVER w AS s12,
         SUM(x1*x3) OVER w AS s13, SUM(x2*x3) OVER w AS s23,
         SUM(x1*y) OVER w AS s1y, SUM(x2*y) OVER w AS s2y,
         SUM(x3*y) OVER w AS s3y,
         AVG(y) OVER (ORDER BY rn
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS trail7,
         MAX(rn) OVER () AS n_series
  FROM s
  WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), coef AS (
  SELECT CAST((rn - 10) // 5 AS BIGINT) AS fold,
         rn AS t, trail7 AS naive_pred,
         ({_RIDGE['d1']}) / ({_RIDGE['det']}) AS b1,
         ({_RIDGE['d2']}) / ({_RIDGE['det']}) AS b2,
         ({_RIDGE['d3']}) / ({_RIDGE['det']}) AS b3,
         ({_RIDGE['d0']}) / ({_RIDGE['det']}) AS b0
  FROM c
  WHERE rn >= 10 AND (rn - 10) % 5 = 0 AND rn <= n_series - 2
), scored AS (
  SELECT coef.fold, coef.t, coef.naive_pred,
         s.y, coef.b1*s.x1 + coef.b2*s.x2 + coef.b3*s.x3 + coef.b0
           AS pred
  FROM coef JOIN s ON s.rn BETWEEN coef.t + 1 AND coef.t + 5
)
"""

_WALK_FORWARD_RIDGE_ORACLE = _WF_SCORED_CTE + """
SELECT fold, CAST(t AS BIGINT) AS train_n,
       CAST(COUNT(*) AS BIGINT) AS test_n,
       ROUND(naive_pred, 6) AS naive_pred,
       ROUND(AVG(ABS(y - naive_pred)), 6) AS naive_mae,
       ROUND(AVG(ABS(y - pred)), 6) AS ridge_mae
FROM scored GROUP BY fold, t, naive_pred ORDER BY fold
"""


def _wf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The walk-forward scored frame (one row per test point with
    fold, t, y, ridge pred, naive_pred) — the Spark twin of
    ``_WF_SCORED_CTE``, shared by walk_forward_cv_daily (per-fold
    view) and model_zoo_ridge_audit (aggregate view)."""
    d = _daily_events(spark, sf_dir)
    wd = Window.orderBy("date")
    r = d.select(
        F.row_number().over(wd).alias("rn"),
        F.col("total_value").alias("x1"),
        F.col("n_events").alias("x2"),
        F.col("avg_value").alias("x3"),
        F.lead("total_value").over(wd).alias("y"),
    )
    s = r.filter(F.col("y").isNotNull())
    w = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    w7 = Window.orderBy("rn").rowsBetween(-6, 0)
    wall = Window.partitionBy()
    cum = s.select(
        "rn", "x1", "x2", "x3", "y",
        F.col("rn").cast("double").alias("n"),
        F.sum("x1").over(w).alias("s1"),
        F.sum("x2").over(w).alias("s2"),
        F.sum("x3").over(w).alias("s3"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).over(w).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).over(w).alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).over(w).alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).over(w).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).over(w).alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).over(w).alias("s23"),
        F.sum(F.col("x1") * F.col("y")).over(w).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).over(w).alias("s2y"),
        F.sum(F.col("x3") * F.col("y")).over(w).alias("s3y"),
        F.avg("y").over(w7).alias("trail7"),
        F.max("rn").over(wall).alias("n_series"),
    )
    coef = cum.filter(
        (F.col("rn") >= 10)
        & ((F.col("rn") - 10) % 5 == 0)
        & (F.col("rn") <= F.col("n_series") - 2)
    ).select(
        ((F.col("rn") - 10) / 5).cast("long").alias("fold"),
        F.col("rn").alias("t"),
        F.col("trail7").alias("naive_pred"),
        F.expr(f"({_RIDGE['d1']}) / ({_RIDGE['det']})").alias("b1"),
        F.expr(f"({_RIDGE['d2']}) / ({_RIDGE['det']})").alias("b2"),
        F.expr(f"({_RIDGE['d3']}) / ({_RIDGE['det']})").alias("b3"),
        F.expr(f"({_RIDGE['d0']}) / ({_RIDGE['det']})").alias("b0"),
    )
    scored = coef.join(
        s,
        (F.col("rn") >= F.col("t") + 1) & (F.col("rn") <= F.col("t") + 5),
    ).select(
        "fold", "t", "naive_pred", "y",
        (
            F.col("b1") * F.col("x1")
            + F.col("b2") * F.col("x2")
            + F.col("b3") * F.col("x3")
            + F.col("b0")
        ).alias("pred"),
    )
    return scored


@register(
    "walk_forward_cv_daily", survey=("ST14",),
    oracle=_WALK_FORWARD_RIDGE_ORACLE,
)
def walk_forward_cv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward CV of the ridge next-day-value predictor vs the
    naive 7-day-mean baseline (ST14 — ref models/readiness_predictor/
    train.py:95-464), now FULLY DISTRIBUTED and driver-hashed: the
    expanding-window folds are cumulative sufficient statistics
    (ordered-window sums — one pass, no per-fold rescans), and the
    ridge normal equations (XᵀX + αI, unpenalized intercept, α=1 —
    identical to numerics.ridge_closed_form) are solved per fold by
    Cramer's rule, whose determinant expressions are GENERATED ONCE
    and evaluated verbatim by both Spark (F.expr) and the DuckDB
    oracle — the two engines execute the same IEEE expression tree.
    Emits one row per fold (fold, train_n, test_n, naive_pred,
    naive_mae, ridge_mae). At 100 TB the sufficient-stat pass scales
    as one windowed scan; fold count stays O(days), never O(rows)."""
    scored = _wf_scored(spark, sf_dir)
    return (
        scored.groupBy("fold", "t", "naive_pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("test_n"),
            R6(F.avg(F.abs(F.col("y") - F.col("naive_pred")))).alias(
                "naive_mae"
            ),
            R6(F.avg(F.abs(F.col("y") - F.col("pred")))).alias("ridge_mae"),
        )
        .select(
            "fold",
            F.col("t").cast("long").alias("train_n"),
            "test_n",
            R6(F.col("naive_pred")).alias("naive_pred"),
            "naive_mae",
            "ridge_mae",
        )
        .orderBy("fold")
    )


@register(
    "model_zoo_ridge_audit",
    survey=("ST14",),
    oracle=_WF_SCORED_CTE + """
SELECT 'ridge' AS model,
       ROUND(AVG(ABS(y - pred)), 6) AS mae,
       ROUND(SQRT(AVG((y - pred) * (y - pred))), 6) AS rmse,
       ROUND(AVG(ABS(y - naive_pred)), 6) AS naive_mae,
       CAST(COUNT(DISTINCT fold) AS BIGINT) AS n_folds,
       TRUE AS zoo_match
FROM scored
""",
)
def model_zoo_ridge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD EXTERNAL GATE for the model zoo's ridge member (closes
    VERDICT r9 #4 — `model_zoo_cv_daily` was the registry's only
    query with no oracle). Two layers in one frame:

    1. The hash-gated metric columns (mae/rmse/naive_mae/n_folds)
       come from the DISTRIBUTED Cramer-rule walk-forward path
       (`_wf_scored`, the same generated expression tree the DuckDB
       oracle evaluates verbatim) aggregated across all test points —
       exactly the zoo's aggregate protocol (walk_forward_cv's
       point-level mean, not a mean of fold means).
    2. `zoo_match` certifies the ACTUAL numpy product path: the query
       runs `products.numerics.walk_forward_cv(model='ridge',
       min_train=10, test_window=5)` — the very call model_zoo_cv
       makes — on the 6-decimal-quantized daily features and checks
       its mae/rmse/naive_mae against the Cramer aggregate at
       1e-5 RELATIVE tolerance. The oracle pins zoo_match = TRUE, so
       any regression in the zoo's fold machinery, imputation, or
       ridge solve flips the driver row red.

    Why a tolerance boolean instead of hashing the numpy numbers:
    np.linalg.solve (LU w/ pivoting) and Cramer's rule are different
    IEEE algorithms — measured divergence grows with XᵀX conditioning
    (rel 5e-12 at sf0.001 → 1.8e-7 at sf0.1), so 6-decimal hashing of
    the numpy values would be scale-dependently flaky (the exact
    flake class the r9 sweep eradicated), while 1e-5 rel tolerance
    has ≥50× margin yet still catches any real defect (the smallest
    possible logic error — one misplaced fold row — moves MAE by
    ~1/20 ≈ 5e-2 relative). The numpy solve + compare runs on the
    collected ~O(days) daily frame: driver-side by design, like every
    ST14 product (ref models/readiness_predictor/train.py:95-464)."""
    from bio_lakehouse_spark.products.numerics import walk_forward_cv

    scored = _wf_scored(spark, sf_dir).localCheckpoint(eager=False)
    agg = scored.agg(
        R6(F.avg(F.abs(F.col("y") - F.col("pred")))).alias("mae"),
        R6(
            F.sqrt(
                F.avg(
                    (F.col("y") - F.col("pred"))
                    * (F.col("y") - F.col("pred"))
                )
            )
        ).alias("rmse"),
        R6(F.avg(F.abs(F.col("y") - F.col("naive_pred")))).alias(
            "naive_mae"
        ),
        F.countDistinct("fold").cast("long").alias("n_folds"),
    ).collect()[0]

    daily = _daily_events(spark, sf_dir).orderBy("date").toPandas()
    y = daily["total_value"].shift(-1).to_numpy(dtype=float)[:-1]
    X = daily[["total_value", "n_events", "avg_value"]].to_numpy(
        dtype=float
    )[:-1]
    zoo = walk_forward_cv(X, y, min_train=10, test_window=5, model="ridge")
    match = all(
        zoo[k] is not None
        and abs(zoo[k] - agg[k]) <= 1e-5 * max(abs(agg[k]), 1.0)
        for k in ("mae", "rmse", "naive_mae")
    ) and zoo["n_folds"] == agg["n_folds"]

    return spark.createDataFrame(
        [
            {
                "model": "ridge",
                "mae": agg["mae"],
                "rmse": agg["rmse"],
                "naive_mae": agg["naive_mae"],
                "n_folds": agg["n_folds"],
                "zoo_match": bool(match),
            }
        ],
        schema="model string, mae double, rmse double, naive_mae double,"
        " n_folds long, zoo_match boolean",
    )


@register(
    "walk_forward_naive_audit",
    survey=("ST14",),
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(SUM(value), 6) AS y
  FROM events GROUP BY 1
), r AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY date) AS rn FROM d
), p AS (
  SELECT rn, y,
         AVG(y) OVER (ORDER BY rn
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail7
  FROM r
), f AS (
  SELECT rn, y, CAST((rn - 11) // 5 AS BIGINT) AS fold
  FROM p WHERE rn >= 11
)
SELECT f.fold,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(s.trail7, 6) AS naive_pred,
       ROUND(AVG(ABS(f.y - s.trail7)), 6) AS naive_mae
FROM f JOIN p s ON s.rn = 11 + 5 * f.fold
GROUP BY f.fold, s.trail7
""",
)
def walk_forward_naive_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE audit of the walk-forward fold machinery
    (ST14): the naive 7-day-trailing-mean baseline per expanding-
    window fold (min_train=10, test_window=5 over the daily series)
    IS SQL-expressible, so the fold boundaries, trailing-mean
    prediction and MAE arithmetic get a hard cross-engine row — the
    ridge/GBM solvers on the same folds stay rows-only
    (walk_forward_cv_daily) but now share audited scaffolding."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        R6(F.sum("value")).alias("y")
    )
    r = d.select(
        "y", F.row_number().over(Window.orderBy("date")).alias("rn")
    )
    p = r.select(
        "rn",
        "y",
        F.avg("y")
        .over(Window.orderBy("rn").rowsBetween(-7, -1))
        .alias("trail7"),
    )
    f = p.filter(F.col("rn") >= 11).select(
        "rn", "y",
        F.floor((F.col("rn") - 11) / 5).cast("long").alias("fold"),
    )
    starts = p.select(F.col("rn").alias("srn"), "trail7")
    return (
        f.join(starts, F.col("srn") == 11 + 5 * F.col("fold"))
        .groupBy("fold", "trail7")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            R6(F.avg(F.abs(F.col("y") - F.col("trail7")))).alias(
                "naive_mae"
            ),
        )
        .select(
            "fold", "n_test", R6(F.col("trail7")).alias("naive_pred"),
            "naive_mae",
        )
    )


@register(
    "mutual_information_audit",
    survey=("ST13",),
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS date,
         CAST(COUNT(*) AS DOUBLE) AS x,
         ROUND(SUM(value), 6) AS y
  FROM events GROUP BY 1
), s AS (
  SELECT x, y,
         MIN(x) OVER () AS mnx, MAX(x) OVER () AS mxx,
         MIN(y) OVER () AS mny, MAX(y) OVER () AS mxy
  FROM d
), b AS (
  SELECT LEAST(CAST(FLOOR((x - mnx) * 8 / NULLIF(mxx - mnx, 0)) AS BIGINT), 7) AS bx,
         LEAST(CAST(FLOOR((y - mny) * 8 / NULLIF(mxy - mny, 0)) AS BIGINT), 7) AS byy
  FROM s
), j AS (
  SELECT bx, byy, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2
), t AS (
  SELECT c, SUM(c) OVER () AS n,
         SUM(c) OVER (PARTITION BY bx) AS cx,
         SUM(c) OVER (PARTITION BY byy) AS cy
  FROM j
)
SELECT ROUND(SUM((c / n) * LN((c / n) / ((cx / n) * (cy / n)))), 6) AS mi,
       CAST(MAX(n) AS BIGINT) AS n_days
FROM t
""",
)
def mutual_information_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE audit for the MI estimator (ST13): the 8×8
    equal-width joint histogram and Σ p·ln(p/(px·py)) are plain SQL,
    so the exact binning + MI arithmetic used by select_features gets
    a hard cross-engine row (numerics.mutual_information implements
    the identical histogram MI; np.histogram2d's right-inclusive last
    bin == the LEAST(floor(..·8/range), 7) clamp)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        R6(F.sum("value")).alias("y"),
    )
    wall = Window.partitionBy()
    s = d.select(
        "x", "y",
        F.min("x").over(wall).alias("mnx"),
        F.max("x").over(wall).alias("mxx"),
        F.min("y").over(wall).alias("mny"),
        F.max("y").over(wall).alias("mxy"),
    )

    def bin8(v, mn, mx):
        return F.least(
            F.floor(
                (F.col(v) - F.col(mn)) * 8
                / F.nullif(F.col(mx) - F.col(mn), F.lit(0))
            ).cast("long"),
            F.lit(7),
        )

    b = s.select(
        bin8("x", "mnx", "mxx").alias("bx"),
        bin8("y", "mny", "mxy").alias("byy"),
    )
    j = b.groupBy("bx", "byy").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    t = j.select(
        "c",
        F.sum("c").over(wall).alias("n"),
        F.sum("c").over(Window.partitionBy("bx")).alias("cx"),
        F.sum("c").over(Window.partitionBy("byy")).alias("cy"),
    )
    p = F.col("c") / F.col("n")
    return t.agg(
        R6(
            F.sum(
                p * F.log(p / ((F.col("cx") / F.col("n"))
                               * (F.col("cy") / F.col("n"))))
            )
        ).alias("mi"),
        F.max("n").cast("long").alias("n_days"),
    )


@register("model_zoo_cv_daily", survey=("ST14",), oracle=None)
def model_zoo_cv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward model zoo (ref models/readiness_predictor/
    train.py:95-464): naive baseline + ridge + elastic_net + gbm under
    identical expanding-window folds on the daily events series, plus
    GBM feature importances. Feature build distributed; solvers on the
    collected daily-grain frame. Rows-only BY DESIGN, and only for
    the zoo members that are genuinely non-SQL: GBM (greedy tree
    induction) and ElasticNet (iterative coordinate descent) have no
    closed form an oracle could replicate. Every deterministic part
    of this machinery IS driver-hashed elsewhere: fold boundaries +
    naive baseline (walk_forward_naive_audit), the ridge member
    per-fold (walk_forward_cv_daily's Cramer-rule oracle), the ridge
    solve itself (ridge_normal_equation_audit), and — r10 — the
    zoo's AGGREGATE ridge row including the actual numpy
    walk_forward_cv call (model_zoo_ridge_audit's oracle-pinned
    zoo_match); the solvers are additionally property-tested
    (test_products.py) and golden-gated (test_model_zoo_golden.py)."""
    from bio_lakehouse_spark.products.numerics import model_zoo_cv

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("avg_value"),
        )
        .orderBy("date")
        .toPandas()
    )
    names = ["total_value", "n_events", "avg_value"]
    y = daily["total_value"].shift(-1).to_numpy(dtype=float)[:-1]
    X = daily[names].to_numpy(dtype=float)[:-1]
    zoo = model_zoo_cv(X, y, names, min_train=10, test_window=5)
    # NULL-safe rounding (r12 degenerate sweep): a series shorter
    # than min_train yields zero folds and None metrics — report the
    # untrainable model as NULLs instead of round(None) TypeError'ing.
    r6 = lambda v: round(v, 6) if v is not None else None  # noqa: E731
    rows = [
        {
            "model": name,
            "mae": r6(m["mae"]),
            "rmse": r6(m["rmse"]),
            "naive_mae": r6(m["naive_mae"]),
            "n_folds": m["n_folds"],
            "is_best": name == zoo["best_model"],
        }
        for name, m in sorted(zoo["models"].items())
    ]
    return spark.createDataFrame(
        rows,
        schema="model string, mae double, rmse double, naive_mae double,"
        " n_folds long, is_best boolean",
    )


@register(
    "ridge_normal_equation_audit",
    survey=("ST14",),
    oracle=_DAILY_EVENTS_CTE + """, p AS (
  SELECT n_events AS x1, avg_value AS x2,
         LEAD(total_value) OVER (ORDER BY date) AS y
  FROM d
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
         SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM p WHERE y IS NOT NULL
), c AS (
  SELECT n,
         s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y,
         s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM m
), beta AS (
  SELECT n, m1, m2, my,
         ((c22 + 1.0) * c1y - c12 * c2y)
           / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b1,
         ((c11 + 1.0) * c2y - c12 * c1y)
           / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b2
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(b1, 6) AS beta_n_events,
       ROUND(b2, 6) AS beta_avg_value,
       ROUND(my - b1 * m1 - b2 * m2, 6) AS intercept
FROM beta
""",
)
def ridge_normal_equation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE audit of the ST14 ridge solver: the 2-feature
    ridge with unpenalized intercept has the closed form
    β = (X̃ᵀX̃ + αI)⁻¹ X̃ᵀỹ over CENTERED variables (equivalent to
    numerics.ridge_closed_form's raw-X + intercept-column solve —
    the intercept-unpenalized problem separates), and a 2×2 inverse
    is plain arithmetic over nine distributed sums. α=1.0, features
    (n_events, avg_value) → next-day total — the model-zoo ridge
    member's exact linear algebra, cross-engine hashed. One
    aggregation over the daily frame; scales to any series length.
    Equality with ridge_closed_form is pinned in pytest."""
    d = _daily_events(spark, sf_dir)
    p = d.select(
        F.col("n_events").alias("x1"),
        F.col("avg_value").alias("x2"),
        F.lead("total_value").over(Window.orderBy("date")).alias("y"),
    ).filter(F.col("y").isNotNull())
    m = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    c = m.select(
        n,
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
    )
    det = (F.col("c11") + 1.0) * (F.col("c22") + 1.0) - F.col("c12") * F.col("c12")
    b1 = ((F.col("c22") + 1.0) * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = ((F.col("c11") + 1.0) * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    beta = c.select(
        "n", "m1", "m2", "my", b1.alias("b1"), b2.alias("b2")
    )
    return beta.select(
        F.col("n").cast("long").alias("n"),
        R6(F.col("b1")).alias("beta_n_events"),
        R6(F.col("b2")).alias("beta_avg_value"),
        R6(
            F.col("my") - F.col("b1") * F.col("m1")
            - F.col("b2") * F.col("m2")
        ).alias("intercept"),
    )


@register(
    "spearman_per_user_audit",
    survey=("ST2", "ST4"),
    oracle=f"""
WITH daily AS (
  SELECT user_id,
         CAST(ts AS DATE) AS date,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0), 6) AS click_value,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0), 6) AS view_value
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id,
         RANK() OVER (PARTITION BY user_id ORDER BY click_value)
           + (COUNT(*) OVER (PARTITION BY user_id, click_value) - 1) / 2.0 AS rx,
         RANK() OVER (PARTITION BY user_id ORDER BY view_value)
           + (COUNT(*) OVER (PARTITION BY user_id, view_value) - 1) / 2.0 AS ry
  FROM daily
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       {_RANK_RHO_SQL} + 0.0 AS rho
FROM ranked GROUP BY user_id HAVING COUNT(*) >= 10
""",
)
def spearman_per_user_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE audit for the per-entity discovery scan (ST4):
    the per-user Spearman ρ (average ranks partitioned by user + one
    corr aggregate — the exact statistic discovery_scan_per_user's
    applyInPandas computes per entity at lag 0) is SQL-expressible, so
    the entity-partitioned ranking machinery gets a hard cross-engine
    row; the lagged/Bonferroni scan remains rows-only."""
    from bio_lakehouse_spark.operators.stats import spearman

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        R6(
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "click", F.col("value"))
                ),
                F.lit(0.0),
            )
        ).alias("click_value"),
        R6(
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "view", F.col("value"))
                ),
                F.lit(0.0),
            )
        ).alias("view_value"),
    )
    out = spearman(daily, "click_value", "view_value",
                   group_cols=("user_id",))
    # + 0.0 normalizes IEEE -0.0 on BOTH sides: a perfectly
    # tie-balanced user yields a correlation numerator of exactly
    # ±epsilon whose sign is summation-order luck (spark=0.0 vs
    # oracle=-0.0, caught by the r9 sf0.1 strict sweep — same class
    # as cox_ph_newton_audit / heaps_law_audit)
    return out.filter(F.col("n") >= 10).select(
        "user_id", F.col("n").cast("long").alias("n"),
        (R6(F.col("rho")) + F.lit(0.0)).alias("rho"),
    )


_DISCOVERY_METRICS = (
    "click_value", "n_events", "purchase_value", "view_value",
)
_DISCOVERY_COMBOS = [
    (a, b, lag)
    for i, a in enumerate(_DISCOVERY_METRICS)
    for b in _DISCOVERY_METRICS[i + 1:]
    for lag in (0, 1, 2)
]


def _discovery_oracle() -> str:
    values = ", ".join(
        f"('{a}', '{b}', {lag})" for a, b, lag in _DISCOVERY_COMBOS
    )
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0), 6) AS click_value,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0), 6) AS view_value,
         ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0), 6) AS purchase_value,
         CAST(COUNT(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT user_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date) AS rn,
         click_value, view_value, purchase_value, n_events
  FROM daily
), long AS (
  SELECT user_id, rn, 'click_value' AS metric, click_value AS v FROM seq
  UNION ALL SELECT user_id, rn, 'view_value', view_value FROM seq
  UNION ALL SELECT user_id, rn, 'purchase_value', purchase_value FROM seq
  UNION ALL SELECT user_id, rn, 'n_events', n_events FROM seq
), combos(metric_a, metric_b, lag) AS (VALUES {values}),
aligned AS (
  SELECT c.metric_a, c.metric_b, c.lag, a.user_id,
         a.v AS va, b.v AS vb
  FROM combos c
  JOIN long a ON a.metric = c.metric_a
  JOIN long b ON b.metric = c.metric_b AND b.user_id = a.user_id
             AND b.rn = a.rn + c.lag
), ranked AS (
  SELECT user_id, metric_a, metric_b, lag,
         RANK() OVER (PARTITION BY user_id, metric_a, metric_b, lag ORDER BY va)
           + (COUNT(*) OVER (PARTITION BY user_id, metric_a, metric_b, lag, va) - 1) / 2.0 AS rx,
         RANK() OVER (PARTITION BY user_id, metric_a, metric_b, lag ORDER BY vb)
           + (COUNT(*) OVER (PARTITION BY user_id, metric_a, metric_b, lag, vb) - 1) / 2.0 AS ry
  FROM aligned
), stats AS (
  SELECT user_id, metric_a, metric_b, lag,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         {_RANK_RHO_SQL} AS rho
  FROM ranked GROUP BY 1, 2, 3, 4
)
SELECT user_id, metric_a, metric_b, lag, n_samples, rho,
       CASE WHEN rho * rho < 1
            THEN ROUND(rho * SQRT((n_samples - 2) / (1 - rho * rho)), 6)
            END AS t_stat
FROM stats
WHERE n_samples >= 10 AND ABS(rho) >= 0.3
"""


@register(
    "discovery_scan_per_user",
    survey=("ST4", "ST2"),
    oracle=_discovery_oracle(),
)
def discovery_scan_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity lagged correlation-discovery scan (ST4 at scale —
    ref insights_engine/insights/discovery.py's metric-pair × lag grid,
    multi-entity form): the full grid (6 metric pairs × lags 0-2 ×
    every user) as ONE distributed plan — lag alignment via LEAD
    columns in a single window pass over the wide daily frame (zero
    self-joins: the oracle's rn+lag equi-join formulation would scan
    and shuffle the series twice; lead(b, lag) is the same pairing
    from one scan), one explode to the 18 (pair, lag) combos, then
    average-rank windows per (user, pair, lag) and one corr
    aggregate. No applyInPandas, no per-entity Python: this is the
    shape that runs on 10⁸ entities.
    Converted from rows-only in round 4: emits the Spearman ρ and its
    t-statistic t = ρ·√((n-2)/(1-ρ²)) (computed from the rounded ρ so
    both engines transform identical doubles), driver-hashed against
    DuckDB. The t→p lookup + Bonferroni correction over the grid is a
    monotone presentation transform of (t, n) — products.discovery
    keeps it, pinned by the planted-lag pytest."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        R6(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "click", F.col("value"))),
                F.lit(0.0),
            )
        ).alias("click_value"),
        R6(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            )
        ).alias("view_value"),
        R6(
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ),
                F.lit(0.0),
            )
        ).alias("purchase_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    wd = Window.partitionBy("user_id").orderBy("date")
    lead_cols = [
        F.lead(m, lag).over(wd).alias(f"__{m}_l{lag}")
        for m in _DISCOVERY_METRICS
        for lag in (1, 2)
    ]
    wide = daily.select("user_id", *_DISCOVERY_METRICS, *lead_cols)

    def vcol(m: str, lag: int):
        return F.col(m) if lag == 0 else F.col(f"__{m}_l{lag}")

    combo_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("metric_a"),
                F.lit(b).alias("metric_b"),
                F.lit(lag).alias("lag"),
                vcol(a, 0).alias("va"),
                vcol(b, lag).alias("vb"),
            )
            for a, b, lag in _DISCOVERY_COMBOS
        ]
    )
    aligned = (
        wide.select("user_id", F.explode(combo_structs).alias("c"))
        .select(
            "user_id", "c.metric_a", "c.metric_b", "c.lag", "c.va", "c.vb"
        )
        # lead() past the series end is NULL — exactly the rows the
        # oracle's rn+lag join excludes.
        .filter(F.col("vb").isNotNull())
    )
    grp = ["user_id", "metric_a", "metric_b", "lag"]
    wg = Window.partitionBy(*grp)
    # r13: the tie-count uses a rangeBetween(0,0) frame over the SAME
    # (partition, order) spec as the rank — rows with equal va in the
    # grp partition — instead of a fourth/fifth window partitioned by
    # (grp, va)/(grp, vb). Every window function now shares the one
    # hashpartitioning(grp) exchange with the final groupBy(grp); the
    # old spec mix forced two extra exchanges + sorts on (grp, va)
    # and (grp, vb). Counts are identical by definition of ties.
    wva = wg.orderBy("va")
    wvb = wg.orderBy("vb")
    rx = (
        F.rank().over(wva)
        + (F.count(F.lit(1)).over(wva.rangeBetween(0, 0)) - 1) / 2.0
    )
    ry = (
        F.rank().over(wvb)
        + (F.count(F.lit(1)).over(wvb.rangeBetween(0, 0)) - 1) / 2.0
    )
    ranked = aligned.select(*grp, rx.alias("rx"), ry.alias("ry"))
    # exact-sums Spearman (see operators/stats.spearman): half-integer
    # ranks make every sum integer-exact and order-independent, so the
    # 6-decimal ROUND can never sit on a summation-order-dependent
    # boundary (streaming corr flipped user 1319's rho between
    # 0.373437/0.373438 run-to-run — r9 sf0.1 sweep)
    sums = ranked.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum("rx").alias("_sx"),
        F.sum("ry").alias("_sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("_sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("_syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("_sxy"),
    )
    nn = F.col("n_samples")
    num = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dd = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")) * (
        nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    )
    stats = sums.select(
        *grp,
        "n_samples",
        R6(F.when(dd > 0, num / F.sqrt(dd))).alias("rho"),
    )
    rho = F.col("rho")
    n = F.col("n_samples")
    t_stat = F.when(
        rho * rho < 1,
        R6(rho * F.sqrt((n - 2) / (1 - rho * rho))),
    )
    return stats.filter(
        (n >= 10) & (F.abs(rho) >= 0.3)
    ).select(*grp, "n_samples", "rho", t_stat.alias("t_stat"))


@register(
    "concurrent_sessions",
    survey=("J7", "W4", "A1"),
    oracle=_SESSIONS_CTE + """, per_session AS (
  SELECT user_id, session_id,
         CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS s,
         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS e
  FROM sessions GROUP BY 1, 2
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_concurrent
FROM per_session a JOIN per_session b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
GROUP BY 1, 2
""",
)
def concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session co-presence: gap-30min sessions per user
    (``_sessions_gap30``, shared with sessionize_gap30), then an
    interval-OVERLAP self-join counting concurrent session pairs per
    user pair. The Spark side is the bucketized interval join
    (operators/joins.interval_overlap_join — bin equi-join + exact
    predicate + distinct, fan-out |interval|/bucket + 1 per row);
    the oracle is DuckDB's native inequality join over the same
    sessions — results must match exactly."""
    from bio_lakehouse_spark.operators.joins import interval_overlap_join

    sessions = _sessions_gap30(spark, sf_dir)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).select(
        (F.col("user_id") * 1_000_000 + F.col("session_id")).alias("sid"),
        "s", "e",
    ).localCheckpoint()
    # ^ r13: the interval join consumes this frame as BOTH sides —
    # without the cut the lag/sum sessionization windows over the
    # full events table execute twice (one per join side). One
    # materialization of the |sessions|-row frame halves the query's
    # heavy pass.
    pairs = interval_overlap_join(
        per_session, per_session, ("sid", "s", "e"), ("sid", "s", "e"),
        bucket_s=3600,
    )
    user_a = F.floor(F.col("l_id") / 1_000_000).cast("long")
    user_b = F.floor(F.col("r_id") / 1_000_000).cast("long")
    return (
        pairs.filter(user_a < user_b)
        .select(user_a.alias("user_a"), user_b.alias("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_concurrent"))
    )


@register(
    "seasonal_decompose_weekly",
    survey=("W2", "A1", "ST7"),
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS date, AVG(value) AS observed
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, date, observed,
         AVG(observed) OVER (PARTITION BY event_type ORDER BY date
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         (date - DATE '1970-01-05') % 7 AS phase
  FROM d
), s AS (
  SELECT event_type, phase, AVG(observed - trend) AS s_raw
  FROM t GROUP BY 1, 2
), sc AS (
  SELECT event_type, phase,
         s_raw - AVG(s_raw) OVER (PARTITION BY event_type) AS seasonal
  FROM s
)
SELECT t.event_type, t.date,
       ROUND(t.observed, 6) AS observed,
       ROUND(t.trend, 6) AS trend,
       ROUND(sc.seasonal, 6) AS seasonal,
       ROUND(t.observed - t.trend - sc.seasonal, 6) AS residual
FROM t JOIN sc USING (event_type, phase)
""",
)
def seasonal_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive weekly decomposition of each event type's daily mean
    (STL-lite): observed = centered 7-row trend + zero-sum weekday
    seasonal + residual. Phase is pure epoch-day arithmetic so both
    engines agree on weekday alignment. One entity-partitioned
    window + a tiny per-(entity, phase) broadcast — series
    parallelism = entity count at scale. Weekday effects in
    readiness/training-load series are exactly the reference's
    analytics domain (insights trends, ref insights_engine)."""
    from bio_lakehouse_spark.operators.stats import seasonal_decompose

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("date")
    ).agg(F.avg("value").alias("observed"))
    out = seasonal_decompose(
        daily, "event_type", "date", "observed", period=7
    )
    return out.select(
        "event_type",
        "date",
        F.round("observed", 6).alias("observed"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("residual", 6).alias("residual"),
    )


# Customer churn observations of the survival family: birth = first
# order, churn event = last order before 2001-01-01, else right-
# censored at the 2001-08-01 observation end. ``_CHURN_EV_T_SQL`` is
# the (ev, t) select list over `span`.
_CHURN_SPAN_CTE = """
WITH span AS (
  SELECT o_custkey,
         MIN(CAST(o_orderdate AS DATE)) AS first_d,
         MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY 1
)"""

_CHURN_EV_T_SQL = """CASE WHEN last_d < DATE '2001-01-01' THEN 1 ELSE 0 END AS ev,
         CASE WHEN last_d < DATE '2001-01-01'
              THEN datediff('day', first_d, last_d)
              ELSE datediff('day', first_d, DATE '2001-08-01') END AS t"""

_CHURN_OBS_CTE = _CHURN_SPAN_CTE + """, obs AS (
  SELECT """ + _CHURN_EV_T_SQL + """
  FROM span
)"""


def _churn_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `span` plus ``_CHURN_EV_T_SQL``: one row per
    customer, (o_custkey, ev, t)."""
    span = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    churned = F.col("last_d") < F.lit("2001-01-01").cast("date")
    return span.select(
        "o_custkey",
        F.when(churned, 1).otherwise(0).alias("ev"),
        F.when(churned, F.datediff("last_d", "first_d"))
        .otherwise(
            F.datediff(F.lit("2001-08-01").cast("date"), F.col("first_d"))
        )
        .alias("t"),
    )


@register(
    "kaplan_meier_churn",
    survey=("ST8", "A13", "W7"),
    oracle=_CHURN_OBS_CTE + """, by_t AS (
  SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM obs GROUP BY 1
), curve AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS n_risk
  FROM by_t
), surv AS (
  SELECT t, d, c, n_risk,
         MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t) AS zero_flag,
         SUM(LN(CASE WHEN d >= n_risk THEN 1.0
                     ELSE 1.0 - CAST(d AS DOUBLE) / n_risk END))
           OVER (ORDER BY t) AS lnsum
  FROM curve
)
SELECT t AS duration_days, CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored, CAST(n_risk AS BIGINT) AS n_risk,
       ROUND(CASE WHEN zero_flag = 1 THEN 0.0 ELSE EXP(lnsum) END, 6)
         AS survival
FROM surv WHERE d > 0
""",
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime: birth =
    first order, churn event = last order before 2001-01-01 (else
    right-censored at the 2001-08-01 observation end). The KM
    product-limit estimator is the standard churn/retention curve a
    lifecycle pipeline ships next to cohort retention; here it is a
    single map-side-combined groupBy(duration) plus cumulative
    windows over the duration-domain frame (bounded by calendar
    days, never corpus-sized — see operators.stats.kaplan_meier),
    with the survival product taken as exp(Σ ln) under an explicit
    absorbing-zero flag so ln(0) is never evaluated."""
    from bio_lakehouse_spark.operators.stats import kaplan_meier

    obs = _churn_obs(spark, sf_dir)
    out = kaplan_meier(obs, "t", "ev")
    return out.select(
        F.col("duration").alias("duration_days"),
        "n_events",
        "n_censored",
        "n_risk",
        R6("survival").alias("survival"),
    )


@register(
    "woe_iv_feature_audit",
    survey=("ST13", "F6", "A6"),
    oracle="""
WITH lbl AS (
  SELECT o_custkey, CASE WHEN MAX(o_totalprice) > 480000
                         THEN 1 ELSE 0 END AS y
  FROM orders GROUP BY 1
), feat AS (
  SELECT 'segment' AS feature, c.c_mktsegment AS bin, l.y
  FROM customer c JOIN lbl l ON l.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'nation', CAST(c.c_nationkey AS VARCHAR), l.y
  FROM customer c JOIN lbl l ON l.o_custkey = c.c_custkey
), g AS (
  SELECT feature, bin, COUNT(*) AS n, SUM(y) AS n_pos FROM feat
  GROUP BY 1, 2
), tot AS (
  SELECT feature, bin, n, n_pos,
         COUNT(*)   OVER (PARTITION BY feature) AS k,
         SUM(n_pos) OVER (PARTITION BY feature) AS pos_tot,
         SUM(n - n_pos) OVER (PARTITION BY feature) AS neg_tot
  FROM g
), w AS (
  SELECT feature, bin, n, n_pos,
         (n_pos + 0.5) / (pos_tot + 0.5 * k) AS ps,
         (n - n_pos + 0.5) / (neg_tot + 0.5 * k) AS ns
  FROM tot
), scored AS (
  SELECT feature, bin, n, n_pos, LN(ps / ns) AS woe,
         (ps - ns) * LN(ps / ns) AS iv_term
  FROM w
)
SELECT feature, bin, n, CAST(n_pos AS BIGINT) AS n_pos, ROUND(woe, 6) AS woe,
       ROUND(iv_term, 6) AS iv_term,
       ROUND(SUM(iv_term) OVER (PARTITION BY feature), 6) AS iv_feature
FROM scored
""",
)
def woe_iv_feature_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value audit of two
    categorical features (market segment, nation) against the
    high-value-customer label — the classic credit-scoring feature
    screen a tabular training pipeline runs before encoding. One
    keyed label aggregation, ONE melt scan (`stack`, no per-feature
    re-scan), one groupBy(feature, bin); WOE/IV math runs on the
    |bins|-row frame under per-feature windows. Laplace 0.5
    smoothing keeps ln() off zero counts in both engines."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    lbl = orders.groupBy("o_custkey").agg(
        (F.max("o_totalprice") > 480000).cast("int").alias("y")
    )
    feat = (
        cust.join(lbl, cust["c_custkey"] == lbl["o_custkey"])
        .select(
            F.expr(
                "stack(2, 'segment', c_mktsegment,"
                " 'nation', CAST(c_nationkey AS STRING))"
                " AS (feature, bin)"
            ),
            "y",
        )
    )
    g = feat.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    wf = Window.partitionBy("feature")
    tot = (
        g.withColumn("k", F.count(F.lit(1)).over(wf))
        .withColumn("pos_tot", F.sum("n_pos").over(wf))
        .withColumn("neg_tot", F.sum(F.col("n") - F.col("n_pos")).over(wf))
    )
    ps = (F.col("n_pos") + 0.5) / (F.col("pos_tot") + 0.5 * F.col("k"))
    ns = (F.col("n") - F.col("n_pos") + 0.5) / (
        F.col("neg_tot") + 0.5 * F.col("k")
    )
    scored = tot.withColumn("woe", F.log(ps / ns)).withColumn(
        "iv_term", (ps - ns) * F.log(ps / ns)
    )
    return scored.select(
        "feature",
        "bin",
        "n",
        "n_pos",
        R6("woe").alias("woe"),
        R6("iv_term").alias("iv_term"),
        R6(F.sum("iv_term").over(wf)).alias("iv_feature"),
    )


_GAIN_Q = [round(k / 10.0, 1) for k in range(1, 10)]


@register(
    "gain_lift_by_decile",
    survey=("ST13", "A13", "O4"),
    oracle="""
WITH lbl AS (
  SELECT o_custkey, CASE WHEN MAX(o_totalprice) > 480000
                         THEN 1 ELSE 0 END AS y
  FROM orders GROUP BY 1
), scored AS (
  SELECT c.c_acctbal AS score, l.y
  FROM customer c JOIN lbl l ON l.o_custkey = c.c_custkey
), q AS (
  SELECT """ + ", ".join(
        f"quantile_cont(score, {p}) AS q{i}"
        for i, p in enumerate(_GAIN_Q, 1)
    ) + """
  FROM scored
), banded AS (
  SELECT 1 + """ + " + ".join(
        f"(CASE WHEN s.score > q.q{i} THEN 1 ELSE 0 END)"
        for i in range(1, 10)
    ) + """ AS decile, s.y
  FROM scored s CROSS JOIN q
), g AS (
  SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos FROM banded GROUP BY 1
)
SELECT decile, n, CAST(n_pos AS BIGINT) AS n_pos,
       ROUND(SUM(n_pos) OVER (ORDER BY decile DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
             * 1.0 / SUM(n_pos) OVER (), 6) AS cum_gain,
       ROUND((n_pos * 1.0 / n)
             / (SUM(n_pos) OVER () * 1.0 / SUM(n) OVER ()), 6) AS lift
FROM g
""",
)
def gain_lift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gain / lift table by score decile (score =
    account balance, target = high-value customer) — the standard
    targeting-model evaluation artifact. Deciles come from NINE
    exact percentile thresholds computed in ONE aggregate and
    broadcast back as a one-row frame (ties band downward), so the
    banding is a scan-level projection — no global sort, no NTILE
    window over the corpus. Gain/lift math runs on the 10-row
    decile frame."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    lbl = orders.groupBy("o_custkey").agg(
        (F.max("o_totalprice") > 480000).cast("int").alias("y")
    )
    scored = cust.join(lbl, cust["c_custkey"] == lbl["o_custkey"]).select(
        F.col("c_acctbal").alias("score"), "y"
    )
    q = scored.agg(
        *[
            F.percentile("score", F.lit(p)).alias(f"q{i}")
            for i, p in enumerate(_GAIN_Q, 1)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + (F.col("score") > F.col(f"q{i}")).cast("int")
    banded = scored.crossJoin(F.broadcast(q)).select(
        decile.alias("decile"), "y"
    )
    g = banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    w_all = Window.partitionBy()
    w_desc = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "decile",
        "n",
        "n_pos",
        # try_divide (r12 ANSI audit): a single-class corpus (zero
        # positives anywhere) zeroes the base rate — gain/lift are
        # undefined → NULL, not a job abort. n per decile is ≥ 1.
        R6(
            F.try_divide(
                F.sum("n_pos").over(w_desc) * 1.0,
                F.sum("n_pos").over(w_all),
            )
        ).alias("cum_gain"),
        R6(
            F.try_divide(
                F.col("n_pos") * 1.0 / F.col("n"),
                F.try_divide(
                    F.sum("n_pos").over(w_all) * 1.0,
                    F.sum("n").over(w_all),
                ),
            )
        ).alias("lift"),
    )


def _gd_chain_sql(label: str, steps: int) -> tuple[str, str]:
    """Unrolled-SQL twin of operators.stats.logistic_gd_fit over the
    (x1, x2) columns of CTE ``p``: closes the CTE before it, then
    i0 (β = 0) and one CTE per step that carries the previous β
    scalars through a GROUP BY and adds η·avg-gradient — the same
    differential-certification treatment as the ridge Cramer solve
    and the unigram Viterbi DP. Returns the CTE text and the name of
    the CTE that holds the fitted β."""
    sql = """
), i0 AS (
  SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2
)"""
    prev = "i0"
    for k in range(1, steps + 1):
        sql += f""", i{k} AS (
  SELECT b0 + 2.0 * AVG({label} - s) AS b0,
         b1 + 2.0 * AVG(x1 * ({label} - s)) AS b1,
         b2 + 2.0 * AVG(x2 * ({label} - s)) AS b2
  FROM (SELECT p.*, {prev}.b0, {prev}.b1, {prev}.b2,
               1.0 / (1.0 + EXP(-({prev}.b0 + {prev}.b1 * x1
                                  + {prev}.b2 * x2))) AS s
        FROM p, {prev})
  GROUP BY b0, b1, b2
)"""
        prev = f"i{k}"
    return sql, prev


# Lineitem feature frame of the certified logistic model: scaled
# (quantity, discount), label l_returnflag = 'R'.
_LINEITEM_GD_P_SQL = """
WITH p AS (
  SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem"""


def _lineitem_gd_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _LINEITEM_GD_P_SQL."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )


def _logistic_gd_oracle() -> str:
    """Unrolled-SQL twin of logistic_gd_audit: the 4-step GD chain,
    then the fitted β and mean log-loss in one aggregate."""
    chain, prev = _gd_chain_sql("y", 4)
    return _LINEITEM_GD_P_SQL + chain + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
       ROUND(AVG(-(y * LN(s) + (1.0 - y) * LN(1.0 - s))), 6) AS log_loss
FROM (SELECT p.*, {prev}.b0, {prev}.b1, {prev}.b2,
             1.0 / (1.0 + EXP(-({prev}.b0 + {prev}.b1 * x1
                                + {prev}.b2 * x2))) AS s
      FROM p, {prev})
GROUP BY b0, b1, b2
"""


@register(
    "logistic_gd_audit",
    survey=("ST14",),
    oracle=_logistic_gd_oracle(),
)
def logistic_gd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression by batch gradient descent,
    differentially certified: 4 unrolled iterations of
    β ← β + η·avg(xᵢ(yᵢ − σ(xᵢ·β))) (η=2, β₀=0) predicting
    l_returnflag='R' from scaled (quantity, discount), plus the final
    mean log-loss. Every iteration of operators.stats.logistic_gd_fit
    is ONE map-side-combinable aggregate over the feature projection
    with the current β riding along as a broadcast one-row frame —
    the canonical distributed-GD shape: per-executor partial sums, a
    d-sized combine, no weight shuffling, no Python. The DuckDB
    oracle unrolls the identical arithmetic CTE-per-iteration, so
    the whole optimizer trajectory
    (not just the fixed point) is cross-engine certified — the same
    treatment as ridge_normal_equation_audit's Cramer solve and the
    unigram tokenizer's Viterbi DP. At 100 TB: cache the 3-column
    projection once; each step is a scan + tiny combine (the known
    5-pass cost of full-batch GD; SGD/minibatch trades passes for
    steps but loses the differential oracle)."""
    p = _lineitem_gd_frame(spark, sf_dir)
    beta = logistic_gd_fit(p, ["x1", "x2"], "y", steps=4)
    f = p.crossJoin(F.broadcast(beta))
    s = sigmoid(linear_predictor(["x1", "x2"]))
    ll = -(
        F.col("y") * F.log(s) + (1.0 - F.col("y")) * F.log(1.0 - s)
    )
    return (
        f.groupBy("b0", "b1", "b2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(ll).alias("log_loss"),
        )
        .select(
            F.col("n"),
            R6(F.col("b0")).alias("b0"),
            R6(F.col("b1")).alias("b1"),
            R6(F.col("b2")).alias("b2"),
            R6(F.col("log_loss")).alias("log_loss"),
        )
    )


def _decision_stump_oracle() -> str:
    """DuckDB twin of the histogram split search: identical binning
    and gain expression trees (the gain SQL is literally the shared
    ``_GINI_GAIN_SQL`` constant), window cumulative sums over the
    per-(feature, bin) histogram, argmax by (rounded gain DESC, bin
    ASC) — the same tie-break best_splits encodes as max(struct)."""
    from bio_lakehouse_spark.operators.trees import _GINI_GAIN_SQL

    return f"""
WITH base AS (
  SELECT CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS INT) AS y,
         CAST(l_quantity AS DOUBLE) AS x_0,
         CAST(l_discount AS DOUBLE) AS x_1
  FROM lineitem
), stats AS (
  SELECT min(x_0) AS lo_0, max(x_0) AS hi_0,
         min(x_1) AS lo_1, max(x_1) AS hi_1
  FROM base
), binned AS (
  SELECT 'l_quantity' AS feature,
         least(31, cast(floor((x_0 - lo_0) * 32.0
                              / nullif(hi_0 - lo_0, 0.0)) as int)) AS bin,
         lo_0 AS lo, hi_0 AS hi, y
  FROM base, stats
  UNION ALL
  SELECT 'l_discount',
         least(31, cast(floor((x_1 - lo_1) * 32.0
                              / nullif(hi_1 - lo_1, 0.0)) as int)),
         lo_1, hi_1, y
  FROM base, stats
), hist AS (
  SELECT feature, bin, any_value(lo) AS lo, any_value(hi) AS hi,
         count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM binned GROUP BY 1, 2
), cum AS (
  SELECT feature, bin, lo, hi,
         CAST(sum(n) OVER w AS BIGINT) AS left_n,
         CAST(sum(pos) OVER w AS BIGINT) AS left_pos,
         CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS tot_n,
         CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS tot_pos,
         max(bin) OVER (PARTITION BY feature) AS max_bin
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), gains AS (
  SELECT feature, bin,
         lo + (bin + 1) * (hi - lo) / 32.0 AS threshold,
         {_GINI_GAIN_SQL} AS gain,
         left_n, tot_n - left_n AS right_n
  FROM cum
  WHERE bin < max_bin AND left_n > 0 AND left_n < tot_n
), ranked AS (
  SELECT feature, threshold, gain, left_n, right_n,
         row_number() OVER (PARTITION BY feature
                            ORDER BY round(gain, 6) DESC, bin ASC) AS rn
  FROM gains
)
SELECT feature, round(threshold, 6) AS threshold,
       round(gain, 6) AS gain, left_n, right_n
FROM ranked WHERE rn = 1
"""


@register(
    "decision_stump_gini",
    survey=("ST14",),
    oracle=_decision_stump_oracle(),
)
def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single Gini split per feature over lineitem, found the
    way a distributed tree learner does it (LightGBM's histogram
    method): ONE scan builds per-(feature, bin) label histograms —
    a map-side-combinable groupBy whose shuffle is ≤ F×B rows no
    matter the input size — then every candidate boundary is scored
    with cumulative windows over that tiny table and the winner
    picked by a sort-free max(struct) argmax. Predicts
    l_returnflag='R' from l_quantity and l_discount, B=32.
    Ref: insights_engine/models/zoo.py fits sklearn trees
    driver-side; this is the split-search primitive those learners
    would need on a cluster."""
    from bio_lakehouse_spark.operators.trees import (
        best_splits,
        histogram_split_gains,
    )

    li = load(spark, sf_dir, "lineitem")
    gains = histogram_split_gains(
        li,
        {
            "l_quantity": F.col("l_quantity"),
            "l_discount": F.col("l_discount"),
        },
        label=(F.col("l_returnflag") == "R"),
        nbins=32,
    )
    return best_splits(gains)


# Per-user treatment frame of the causal audits: treated = more clicks
# than errors, outcome = purchase value, covariates = scaled activity
# count / mean value.
_TREATMENT_P_SQL = """
WITH p AS (
  SELECT CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         THEN 1.0 ELSE 0.0 END AS t,
         SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
           AS yv,
         COUNT(*) / 100.0 AS x1,
         AVG(value) / 100.0 AS x2
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id"""

# Per-arm closed-form OLS outcome models over the treatment frame.
_OUTCOME_MODEL_SQL = """
), om AS (
  SELECT
    (AVG(CASE WHEN t = 1.0 THEN x1 * yv END)
     - AVG(CASE WHEN t = 1.0 THEN x1 END)
       * AVG(CASE WHEN t = 1.0 THEN yv END))
    / (AVG(CASE WHEN t = 1.0 THEN x1 * x1 END)
       - AVG(CASE WHEN t = 1.0 THEN x1 END)
         * AVG(CASE WHEN t = 1.0 THEN x1 END)) AS slope1,
    (AVG(CASE WHEN t = 0.0 THEN x1 * yv END)
     - AVG(CASE WHEN t = 0.0 THEN x1 END)
       * AVG(CASE WHEN t = 0.0 THEN yv END))
    / (AVG(CASE WHEN t = 0.0 THEN x1 * x1 END)
       - AVG(CASE WHEN t = 0.0 THEN x1 END)
         * AVG(CASE WHEN t = 0.0 THEN x1 END)) AS slope0,
    AVG(CASE WHEN t = 1.0 THEN yv END) AS my1,
    AVG(CASE WHEN t = 0.0 THEN yv END) AS my0,
    AVG(CASE WHEN t = 1.0 THEN x1 END) AS mx1,
    AVG(CASE WHEN t = 0.0 THEN x1 END) AS mx0
  FROM p"""


def _treatment_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TREATMENT_P_SQL: one (t, yv, x1, x2) row per
    user, over the events that carry a value."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)),
            1.0,
        ).otherwise(0.0).alias("t"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
        ).alias("yv"),
        (F.count(F.lit(1)) / 100.0).alias("x1"),
        (F.avg("value") / 100.0).alias("x2"),
    ).drop("user_id")


def _outcome_model(p: DataFrame) -> DataFrame:
    """Spark twin of _OUTCOME_MODEL_SQL: per-arm OLS outcome models
    m_a(x1) = ȳ_a + b_a(x1 − x̄_a) fit in ONE conditional aggregate
    over the treatment frame — the one-row (slope1, slope0, my1,
    my0, mx1, mx0) frame that _arm_outcome reads."""

    def cavg(cond, col):
        return F.avg(F.when(cond, col))

    t1, t0 = F.col("t") == 1.0, F.col("t") == 0.0
    x1, yv = F.col("x1"), F.col("yv")
    # try_divide (r12 ANSI audit): an arm where the covariate is
    # CONSTANT (every treated user has the same activity count) has
    # zero within-arm variance — the outcome-model slope is undefined
    # → NULL, not a job abort.
    return p.agg(
        F.try_divide(
            cavg(t1, x1 * yv) - cavg(t1, x1) * cavg(t1, yv),
            cavg(t1, x1 * x1) - cavg(t1, x1) * cavg(t1, x1),
        ).alias("slope1"),
        F.try_divide(
            cavg(t0, x1 * yv) - cavg(t0, x1) * cavg(t0, yv),
            cavg(t0, x1 * x1) - cavg(t0, x1) * cavg(t0, x1),
        ).alias("slope0"),
        cavg(t1, yv).alias("my1"),
        cavg(t0, yv).alias("my0"),
        cavg(t1, x1).alias("mx1"),
        cavg(t0, x1).alias("mx0"),
    )


def _arm_outcome(arm: int) -> Column:
    """m_arm(x1) over a frame carrying _outcome_model's columns."""
    return (
        F.col(f"my{arm}")
        - F.col(f"slope{arm}") * F.col(f"mx{arm}")
        + F.col(f"slope{arm}") * F.col("x1")
    )


def _clipped_propensity() -> Column:
    """σ(b0 + b1·x1 + b2·x2) clipped to 0.05–0.95, over the treatment
    frame joined to its fitted propensity β."""
    return F.greatest(
        F.lit(0.05),
        F.least(F.lit(0.95), sigmoid(linear_predictor(["x1", "x2"]))),
    )


def _ipw_oracle(iters: int = 3) -> str:
    """Unrolled-SQL twin of the IPW pipeline: per-user treatment/
    outcome/covariates, 3 logistic-GD propensity steps (the
    logistic_gd_audit treatment), then clipped Horvitz–Thompson and
    Hájek ATEs in one aggregate."""
    chain, prev = _gd_chain_sql("t", iters)
    return _TREATMENT_P_SQL + chain + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
       ROUND(AVG(CASE WHEN t = 1.0 THEN yv END)
             - AVG(CASE WHEN t = 0.0 THEN yv END), 6) AS naive_diff,
       ROUND(AVG(t * yv / e) - AVG((1.0 - t) * yv / (1.0 - e)), 6)
         AS ate_ipw,
       ROUND(SUM(t * yv / e) / SUM(t / e)
             - SUM((1.0 - t) * yv / (1.0 - e))
               / SUM((1.0 - t) / (1.0 - e)), 6) AS ate_hajek
FROM (SELECT p.*, {prev}.b0, {prev}.b1, {prev}.b2,
             GREATEST(0.05, LEAST(0.95,
               1.0 / (1.0 + EXP(-({prev}.b0 + {prev}.b1 * x1
                                  + {prev}.b2 * x2))))) AS e
      FROM p, {prev})
GROUP BY b0, b1, b2
"""


@register(
    "ipw_ate_audit",
    survey=("ST11", "ST14"),
    oracle=_ipw_oracle(3),
)
def ipw_ate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted treatment effect, end-to-end
    distributed and differentially certified: per-user frame
    (treated = more clicks than errors; outcome = purchase value;
    covariates =
    scaled activity count / mean value), propensity from 3 unrolled
    logistic-GD steps (each ONE map-side-combinable aggregate with β
    as a broadcast one-row frame — logistic_gd_fit's shape), then
    the naive difference, the clipped (0.05–0.95) Horvitz–Thompson
    ATE, and the Hájek (self-normalized) ATE in one final aggregate.
    The causal upgrade of `did_pre_post`/`cuped_adjustment`: same
    experiments family, observational-confounding correction. The
    DuckDB oracle unrolls the identical CTE trajectory, so the
    certified surface includes the optimizer path AND the weighting
    arithmetic."""
    p = _treatment_frame(spark, sf_dir)
    beta = logistic_gd_fit(p, ["x1", "x2"], "t", steps=3)
    f = p.crossJoin(F.broadcast(beta))
    e = _clipped_propensity()
    t, yv = F.col("t"), F.col("yv")
    return f.groupBy("b0", "b1", "b2").agg(
        F.count(F.lit(1)).alias("n_users"),
        R6(
            F.avg(F.when(t == 1.0, yv)) - F.avg(F.when(t == 0.0, yv))
        ).alias("naive_diff"),
        # try_divide on every propensity ratio (r12 ANSI audit): an
        # extreme covariate saturates the logistic — exp underflow
        # makes e EXACTLY 0.0 or 1.0 — and the raw 1/e, 1/(1−e)
        # weights abort the job. NULL drops that user from the
        # estimator (the standard positivity-violation trim), and the
        # Hajek outer ratios go NULL if an arm is empty.
        R6(
            F.avg(F.try_divide(t * yv, e))
            - F.avg(F.try_divide((1.0 - t) * yv, 1.0 - e))
        ).alias("ate_ipw"),
        R6(
            F.try_divide(
                F.sum(F.try_divide(t * yv, e)),
                F.sum(F.try_divide(t, e)),
            )
            - F.try_divide(
                F.sum(F.try_divide((1.0 - t) * yv, 1.0 - e)),
                F.sum(F.try_divide(1.0 - t, 1.0 - e)),
            )
        ).alias("ate_hajek"),
    ).select(
        "n_users",
        R6(F.col("b0")).alias("b0"),
        R6(F.col("b1")).alias("b1"),
        R6(F.col("b2")).alias("b2"),
        "naive_diff",
        "ate_ipw",
        "ate_hajek",
    )


@register(
    "roc_auc_audit",
    survey=("ST14", "A13"),
    oracle="""
WITH per_v AS (
  SELECT l_quantity AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS np,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT v, np, n,
         CAST(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) - n AS before_n
  FROM per_v
), spr AS (
  SELECT SUM(np * (before_n + (n + 1) / 2.0)) AS pos_rank_sum FROM ranked
), tot AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n1,
         CAST(SUM(n - np) AS BIGINT) AS n0
  FROM per_v
)
SELECT n1, n0,
       ROUND((pos_rank_sum - n1 * (n1 + 1) / 2.0) / (n1 * 1.0 * n0), 6)
         AS auc,
       ROUND(2.0 * ((pos_rank_sum - n1 * (n1 + 1) / 2.0)
                    / (n1 * 1.0 * n0)) - 1.0, 6) AS gini
FROM spr, tot
""",
)
def roc_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (and Gini) of l_quantity as a scorer for
    l_returnflag='R', via the rank-sum identity
    AUC = (Σ midranks(positives) − n₁(n₁+1)/2) / (n₁n₀) with proper
    tie midranks — the Mann–Whitney U relation, so NO per-threshold
    rescans and NO global sort of the raw data: ONE per-distinct-score
    aggregate (map-side combinable), a cumulative window over the
    |distinct scores| frame (50 rows here, bounded at any corpus
    size for banded scorers), and two one-row stat frames. The model
    evaluation primitive next to gain_lift_by_decile /
    nb_calibration_curve."""
    from bio_lakehouse_spark.operators.stats import auc_rank_sum

    li = load(spark, sf_dir, "lineitem")
    out = auc_rank_sum(
        li, F.col("l_quantity"), F.col("l_returnflag") == "R"
    )
    return out.select(
        "n1",
        "n0",
        R6(F.col("auc")).alias("auc"),
        R6(F.col("gini")).alias("gini"),
    )


def _cox_oracle(steps: int = 2) -> str:
    """Unrolled-SQL twin of the Cox Newton fit: per-duration sums
    with β carried as a group key, suffix-cumulative risk windows,
    one Newton update per CTE pair — the logistic-GD treatment
    applied to the partial likelihood."""
    obs = _CHURN_SPAN_CTE + """, obs AS (
  SELECT """ + _CHURN_EV_T_SQL + """,
         c_acctbal / 10000.0 AS x
  FROM span JOIN customer ON c_custkey = o_custkey
), b0 AS (SELECT 0.0 AS b)"""
    sql = obs
    prev = "b0"
    for k in range(1, steps + 1):
        sql += f""", p{k} AS (
  SELECT b, t, SUM(ev) AS d, SUM(ev * x) AS sx,
         SUM(EXP(b * x)) AS e0,
         SUM(x * EXP(b * x)) AS e1,
         SUM(x * x * EXP(b * x)) AS e2
  FROM obs, {prev} GROUP BY b, t
), r{k} AS (
  SELECT b, d, sx,
         SUM(e0) OVER w AS s0, SUM(e1) OVER w AS s1v,
         SUM(e2) OVER w AS s2v
  FROM p{k}
  WINDOW w AS (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), b{k} AS (
  SELECT b + SUM(sx - d * (s1v / s0))
             / SUM(d * (s2v / s0 - (s1v / s0) * (s1v / s0))) AS b
  FROM r{k} WHERE d > 0 GROUP BY b
)"""
        prev = f"b{k}"
    sql += f""", pf AS (
  SELECT b, t, SUM(ev) AS d, SUM(ev * x) AS sx,
         SUM(EXP(b * x)) AS e0,
         SUM(x * EXP(b * x)) AS e1,
         SUM(x * x * EXP(b * x)) AS e2
  FROM obs, {prev} GROUP BY b, t
), rf AS (
  SELECT b, d, sx,
         SUM(e0) OVER w AS s0, SUM(e1) OVER w AS s1v,
         SUM(e2) OVER w AS s2v
  FROM pf
  WINDOW w AS (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(SUM(d) AS BIGINT) AS n_events,
       ROUND(b, 6) AS beta,
       ROUND(EXP(b), 6) AS hazard_ratio,
       ROUND(SUM(sx - d * (s1v / s0)), 6) + 0.0 AS score_u,
       ROUND(1.0 / SQRT(SUM(d * (s2v / s0
                                 - (s1v / s0) * (s1v / s0)))), 6) AS se
FROM rf WHERE d > 0 GROUP BY b
"""
    return sql


@register(
    "cox_ph_newton_audit",
    survey=("ST8", "ST14", "W7"),
    oracle=_cox_oracle(2),
)
def cox_ph_newton_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression of customer churn hazard
    on account balance — Kaplan–Meier's modeling upgrade, fit
    DISTRIBUTED: 2 Newton–Raphson steps on the Breslow partial
    likelihood where every risk-set sum (S₀, S₁, S₂ over subjects
    still at risk) is a suffix-cumulative window on the per-duration
    frame (bounded by calendar days, never subjects), and β rides
    through each step as a broadcast one-row group key. Emits β,
    exp(β) hazard ratio, the final score (≈0 at convergence) and
    1/√I standard error; the DuckDB oracle unrolls the identical
    two-step trajectory (operators/stats.cox_ph_newton). Same
    birth/churn/censoring construction as kaplan_meier_churn
    (``_churn_obs``)."""
    from bio_lakehouse_spark.operators.stats import cox_ph_newton

    churn = _churn_obs(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    obs = churn.join(
        cust, churn["o_custkey"] == cust["c_custkey"]
    ).select("ev", "t", (F.col("c_acctbal") / 10000.0).alias("x"))
    out = cox_ph_newton(obs, steps=2)
    return out.select(
        "n_events",
        R6(F.col("beta")).alias("beta"),
        R6(F.col("hazard_ratio")).alias("hazard_ratio"),
        # + 0.0 normalizes IEEE signed zero: at convergence the score
        # rounds to ±0 and Spark emits 0.0 where DuckDB emits -0.0,
        # which the driver's repr hash distinguishes (r07 hash-red).
        (R6(F.col("score_u")) + F.lit(0.0)).alias("score_u"),
        R6(F.col("se")).alias("se"),
    )


def _gmm_oracle(steps: int = 2) -> str:
    """Unrolled-SQL twin of the 2-component 1-D GMM EM fit: the
    E-step is row-local arithmetic with the parameter 6-tuple riding
    along as a one-row CTE, the M-step ONE aggregate using the
    E[x]/E[x²] sufficient-statistic form — the same differential
    treatment as logistic GD / Cox Newton."""
    # shared literals: 1/√(2π) and the deterministic min/max init
    inv_sqrt_2pi = "0.3989422804014327"

    def pdf(mu: str, s2: str) -> str:
        return (
            f"({inv_sqrt_2pi} / SQRT({s2})"
            f" * EXP(-(x - {mu}) * (x - {mu}) / (2.0 * {s2})))"
        )

    sql = f"""
WITH xs AS (
  SELECT o_totalprice / 100000.0 AS x FROM orders
), init AS (
  SELECT MIN(x) + 0.25 * (MAX(x) - MIN(x)) AS mu1,
         MIN(x) + 0.75 * (MAX(x) - MIN(x)) AS mu2,
         VAR_SAMP(x) AS s1, VAR_SAMP(x) AS s2w,
         0.5 AS w1, 0.5 AS w2
  FROM xs
)"""
    prev = "init"
    for k in range(1, steps + 1):
        sql += f""", e{k} AS (
  SELECT x, mu1, mu2, s1, s2w, w1, w2,
         w2 * {pdf('mu2', 's2w')}
           / (w1 * {pdf('mu1', 's1')} + w2 * {pdf('mu2', 's2w')}) AS r2
  FROM xs, {prev}
), m{k} AS (
  SELECT AVG(1.0 - r2) AS w1, AVG(r2) AS w2,
         SUM((1.0 - r2) * x) / SUM(1.0 - r2) AS mu1,
         SUM(r2 * x) / SUM(r2) AS mu2,
         SUM((1.0 - r2) * x * x) / SUM(1.0 - r2)
           - (SUM((1.0 - r2) * x) / SUM(1.0 - r2))
             * (SUM((1.0 - r2) * x) / SUM(1.0 - r2)) AS s1,
         SUM(r2 * x * x) / SUM(r2)
           - (SUM(r2 * x) / SUM(r2)) * (SUM(r2 * x) / SUM(r2)) AS s2w
  FROM e{k} GROUP BY mu1, mu2, s1, s2w, w1, w2
)"""
        prev = f"m{k}"
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(w1, 6) AS w1, ROUND(w2, 6) AS w2,
       ROUND(mu1, 6) AS mu1, ROUND(mu2, 6) AS mu2,
       ROUND(s1, 6) AS var1, ROUND(s2w, 6) AS var2,
       ROUND(AVG(LN(w1 * {pdf('mu1', 's1')}
                    + w2 * {pdf('mu2', 's2w')})), 6) AS avg_loglik
FROM xs, {prev}
GROUP BY w1, w2, mu1, mu2, s1, s2w
"""
    return sql


@register(
    "gmm_em_audit",
    survey=("ST14", "ST10"),
    oracle=_gmm_oracle(2),
)
def gmm_em_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit by 2 unrolled EM steps
    over scaled order totals — distributed EM in its canonical shape:
    the E-step responsibilities are ROW-LOCAL arithmetic with the
    6 parameters riding along as a broadcast one-row frame, the
    M-step is ONE map-side-combinable aggregate via the E[x]/E[x²]
    sufficient-statistic form (no second pass for the variance), and
    deterministic quartile-of-range init makes the whole trajectory
    — responsibilities, re-estimates, final mean log-likelihood —
    DuckDB-certifiable, the logistic-GD treatment applied to a latent
    -variable model. Completes the clustering family (kmeans = hard
    EM; this is the soft version)."""
    xs = load(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 100000.0).alias("x")
    )
    init = xs.agg(
        (F.min("x") + 0.25 * (F.max("x") - F.min("x"))).alias("mu1"),
        (F.min("x") + 0.75 * (F.max("x") - F.min("x"))).alias("mu2"),
        F.var_samp("x").alias("s1"),
        F.var_samp("x").alias("s2w"),
        F.lit(0.5).alias("w1"),
        F.lit(0.5).alias("w2"),
    )
    inv = 0.3989422804014327

    # try_divide in the density (r12 ANSI audit): a component
    # whose variance hits exactly 0 (constant data at init, or
    # collapse onto a single point mid-EM) has an undefined density
    # → NULL, which propagates to NULL responsibilities/params
    # instead of aborting the job.
    def pdf(mu, s2):
        return F.try_divide(F.lit(inv), F.sqrt(s2)) * F.exp(
            -F.try_divide(
                (F.col("x") - mu) * (F.col("x") - mu), 2.0 * s2
            )
        )

    params = init
    for _ in range(2):
        e = xs.crossJoin(F.broadcast(params))
        p1 = F.col("w1") * pdf(F.col("mu1"), F.col("s1"))
        p2 = F.col("w2") * pdf(F.col("mu2"), F.col("s2w"))
        # try_divide (r12 ANSI audit): a far-tail point underflows
        # BOTH densities to exactly 0 → 0/0; its responsibility is
        # undefined → NULL (the row simply drops from the M-step).
        e = e.withColumn("r2", F.try_divide(p2, p1 + p2))
        r2, r1 = F.col("r2"), 1.0 - F.col("r2")
        x = F.col("x")
        params = e.groupBy("mu1", "mu2", "s1", "s2w", "w1", "w2").agg(
            F.avg(r1).alias("nw1"),
            F.avg(r2).alias("nw2"),
            # try_divide (r12 ANSI audit): total component
            # collapse (Σr exactly 0) → undefined moments → NULL.
            F.try_divide(F.sum(r1 * x), F.sum(r1)).alias("nmu1"),
            F.try_divide(F.sum(r2 * x), F.sum(r2)).alias("nmu2"),
            (
                F.try_divide(F.sum(r1 * x * x), F.sum(r1))
                - F.try_divide(F.sum(r1 * x), F.sum(r1))
                * F.try_divide(F.sum(r1 * x), F.sum(r1))
            ).alias("ns1"),
            (
                F.try_divide(F.sum(r2 * x * x), F.sum(r2))
                - F.try_divide(F.sum(r2 * x), F.sum(r2))
                * F.try_divide(F.sum(r2 * x), F.sum(r2))
            ).alias("ns2"),
        ).select(
            F.col("nw1").alias("w1"),
            F.col("nw2").alias("w2"),
            F.col("nmu1").alias("mu1"),
            F.col("nmu2").alias("mu2"),
            F.col("ns1").alias("s1"),
            F.col("ns2").alias("s2w"),
        )
    f = xs.crossJoin(F.broadcast(params))
    lp1 = F.col("w1") * pdf(F.col("mu1"), F.col("s1"))
    lp2 = F.col("w2") * pdf(F.col("mu2"), F.col("s2w"))
    return f.groupBy("w1", "w2", "mu1", "mu2", "s1", "s2w").agg(
        F.count(F.lit(1)).alias("n"),
        R6(F.avg(F.log(lp1 + lp2))).alias("avg_loglik"),
    ).select(
        "n",
        R6(F.col("w1")).alias("w1"),
        R6(F.col("w2")).alias("w2"),
        R6(F.col("mu1")).alias("mu1"),
        R6(F.col("mu2")).alias("mu2"),
        R6(F.col("s1")).alias("var1"),
        R6(F.col("s2w")).alias("var2"),
        "avg_loglik",
    )


def _aipw_oracle(iters: int = 3) -> str:
    """Unrolled-SQL twin of the AIPW pipeline: the ipw_ate_audit
    propensity trajectory plus per-arm closed-form OLS outcome models
    in one aggregate, combined into the doubly-robust estimator."""
    chain, prev = _gd_chain_sql("t", iters)
    return (
        _TREATMENT_P_SQL
        + _OUTCOME_MODEL_SQL
        + chain
        + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(slope1, 6) AS m1_slope, ROUND(slope0, 6) AS m0_slope,
       ROUND(AVG((my1 - slope1 * mx1 + slope1 * x1)
                 - (my0 - slope0 * mx0 + slope0 * x1)
                 + t * (yv - (my1 - slope1 * mx1 + slope1 * x1)) / e
                 - (1.0 - t) * (yv - (my0 - slope0 * mx0 + slope0 * x1))
                   / (1.0 - e)), 6) AS ate_aipw
FROM (SELECT p.*, om.*, {prev}.b0, {prev}.b1, {prev}.b2,
             GREATEST(0.05, LEAST(0.95,
               1.0 / (1.0 + EXP(-({prev}.b0 + {prev}.b1 * x1
                                  + {prev}.b2 * x2))))) AS e
      FROM p, om, {prev})
GROUP BY slope1, slope0, my1, my0, mx1, mx0
"""
    )


@register(
    "aipw_doubly_robust",
    survey=("ST11", "ST14"),
    oracle=_aipw_oracle(3),
)
def aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented IPW (doubly-robust) treatment effect — consistent if
    EITHER the propensity model OR the outcome model is right
    (Robins–Rotnitzky–Zhao): ipw_ate_audit's unrolled 3-step logistic
    propensity PLUS per-arm closed-form OLS outcome models
    m_a(x) = ȳ_a + b_a(x − x̄_a) fit in ONE conditional aggregate,
    combined as avg[(m₁−m₀) + t(y−m₁)/e − (1−t)(y−m₀)/(1−e)] with the
    0.05–0.95 clip. Everything rides as two broadcast one-row frames
    (outcome coefficients, β) over the per-user scan; the DuckDB
    oracle unrolls the identical trajectory, completing the causal
    triad (naive → IPW/Hájek → AIPW)."""
    p = _treatment_frame(spark, sf_dir)
    om = _outcome_model(p)
    beta = logistic_gd_fit(p, ["x1", "x2"], "t", steps=3)
    f = p.crossJoin(F.broadcast(om)).crossJoin(F.broadcast(beta))
    e = _clipped_propensity()
    m1, m0 = _arm_outcome(1), _arm_outcome(0)
    t, yv = F.col("t"), F.col("yv")
    aipw = (
        (m1 - m0)
        + t * (yv - m1) / e
        - (1.0 - t) * (yv - m0) / (1.0 - e)
    )
    return f.groupBy("slope1", "slope0", "my1", "my0", "mx1", "mx0").agg(
        F.count(F.lit(1)).alias("n_users"),
        R6(F.avg(aipw)).alias("ate_aipw"),
    ).select(
        "n_users",
        R6(F.col("slope1")).alias("m1_slope"),
        R6(F.col("slope0")).alias("m0_slope"),
        "ate_aipw",
    )


@register(
    "logrank_test_groups",
    survey=("ST8", "ST3"),
    oracle=_CHURN_SPAN_CTE + """, obs AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
         """ + _CHURN_EV_T_SQL + """
  FROM span JOIN customer ON c_custkey = o_custkey
), per_t AS (
  SELECT t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(g * ev) AS BIGINT) AS d1,
         COUNT(*) AS all_n,
         CAST(SUM(g) AS BIGINT) AS all_n1
  FROM obs GROUP BY t
), risk AS (
  SELECT t, d, d1,
         CAST(SUM(all_n) OVER w AS BIGINT) AS n,
         CAST(SUM(all_n1) OVER w AS BIGINT) AS n1
  FROM per_t
  WINDOW w AS (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT d1, d * (n1 / CAST(n AS DOUBLE)) AS e1,
         CASE WHEN n > 1 THEN
           d * (n1 / CAST(n AS DOUBLE)) * (1.0 - n1 / CAST(n AS DOUBLE))
             * (n - d) / CAST(n - 1 AS DOUBLE)
         ELSE 0.0 END AS v
  FROM risk WHERE d > 0
)
SELECT CAST(SUM(d1) AS BIGINT) AS obs_events_g1,
       ROUND(SUM(e1), 6) AS exp_events_g1,
       ROUND((SUM(d1) - SUM(e1)) * (SUM(d1) - SUM(e1)) / SUM(v), 6)
         AS logrank_chi2
FROM terms
""",
)
def logrank_test_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel–Cox) comparing churn survival of the
    BUILDING market segment against everyone else — the hypothesis
    test that goes with the Kaplan–Meier curve and is the score test
    of cox_ph_newton at β=0: at each event time, observed-vs-expected
    group-1 events with the hypergeometric variance, summed into the
    1-df χ². Observations come from ``_churn_obs``, as for KM/Cox,
    and all risk-set quantities are the same suffix-cumulative windows
    over the per-duration frame — one scan, one duration-bounded
    window pass, no per-subject joins."""
    churn = _churn_obs(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    obs = churn.join(
        cust, churn["o_custkey"] == cust["c_custkey"]
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("g"),
        "ev",
        "t",
    )
    from bio_lakehouse_spark.operators.stats import logrank_two_groups

    out = logrank_two_groups(obs)
    return out.select(
        "obs_events_g1",
        R6(F.col("exp_events_g1")).alias("exp_events_g1"),
        R6(F.col("logrank_chi2")).alias("logrank_chi2"),
    )


def _gbdt_oracle(nbins: int = 16, lr: str = "0.5") -> str:
    """Unrolled-SQL twin of the two-round boosted-stump fit: the
    histogram/cumulative-window/argmax triple per round, with leaf
    values carried into round 2's residual expression — the boosting
    extension of the decision_stump treatment."""
    def bins(i: int) -> str:
        return (
            f"least({nbins - 1}, cast(floor((x_{i} - lo_{i}) * {nbins}.0"
            f" / nullif(hi_{i} - lo_{i}, 0.0)) as int))"
        )

    def delta(k: int) -> str:
        return (
            f"(case when feat{k} = 'l_quantity' then"
            f" (case when x_0 <= thr{k} then gl{k} else gr{k} end)"
            f" else (case when x_1 <= thr{k} then gl{k} else gr{k} end)"
            " end)"
        )

    def round_ctes(r: int, src: str, resid: str) -> str:
        return f"""binned{r} AS (
  SELECT 'l_quantity' AS feature, {bins(0)} AS bin,
         lo_0 AS lo, hi_0 AS hi, {resid} AS e FROM {src}
  UNION ALL
  SELECT 'l_discount', {bins(1)}, lo_1, hi_1, {resid} FROM {src}
), hist{r} AS (
  SELECT feature, bin, any_value(lo) AS lo, any_value(hi) AS hi,
         COUNT(*) AS n_b, SUM(e) AS s_b
  FROM binned{r} GROUP BY 1, 2
), cum{r} AS (
  SELECT feature, bin, lo, hi,
         SUM(n_b) OVER w AS nl, SUM(s_b) OVER w AS sl,
         SUM(n_b) OVER (PARTITION BY feature) AS n,
         SUM(s_b) OVER (PARTITION BY feature) AS s,
         MAX(bin) OVER (PARTITION BY feature) AS max_bin
  FROM hist{r}
  WINDOW w AS (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), gains{r} AS (
  SELECT feature, bin,
         lo + (bin + 1) * (hi - lo) / {nbins}.0 AS threshold,
         sl * sl / cast(nl as double)
           + (s - sl) * (s - sl) / cast(n - nl as double)
           - s * s / cast(n as double) AS gain,
         sl / cast(nl as double) AS gamma_l,
         (s - sl) / cast(n - nl as double) AS gamma_r
  FROM cum{r} WHERE bin < max_bin AND nl > 0 AND nl < n
), best{r} AS (
  SELECT feature AS feat{r}, threshold AS thr{r},
         gamma_l AS gl{r}, gamma_r AS gr{r}, gain AS gain{r}
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY round(gain, 6) DESC,
                                     feature ASC, bin ASC) AS rn
        FROM gains{r})
  WHERE rn = 1
)"""

    d1, d2 = delta(1), delta(2)
    f1 = f"(f0 + {lr} * {d1})"
    f2 = f"(f0 + {lr} * {d1} + {lr} * {d2})"
    return f"""
WITH base AS (
  SELECT l_extendedprice / 1000.0 AS y,
         CAST(l_quantity AS DOUBLE) AS x_0,
         CAST(l_discount AS DOUBLE) AS x_1
  FROM lineitem
), stats AS (
  SELECT MIN(x_0) AS lo_0, MAX(x_0) AS hi_0,
         MIN(x_1) AS lo_1, MAX(x_1) AS hi_1, AVG(y) AS f0
  FROM base
), j1 AS (
  SELECT base.*, stats.* FROM base, stats
), {round_ctes(1, "j1", "y - f0")}, j2 AS (
  SELECT j1.*, best1.* FROM j1, best1
), rmse1 AS (
  SELECT SQRT(AVG((y - {f1}) * (y - {f1}))) AS rmse_after FROM j2
), {round_ctes(2, "j2", f"y - {f1}")}, rmse2 AS (
  SELECT SQRT(AVG((y - {f2}) * (y - {f2}))) AS rmse_after
  FROM j2, best2
)
SELECT 1 AS round, feat1 AS feature, ROUND(thr1, 6) AS threshold,
       ROUND(gl1, 6) AS gamma_l, ROUND(gr1, 6) AS gamma_r,
       ROUND(gain1, 6) AS gain, ROUND(rmse1.rmse_after, 6) AS rmse_after
FROM best1, rmse1
UNION ALL
SELECT 2, feat2, ROUND(thr2, 6), ROUND(gl2, 6), ROUND(gr2, 6),
       ROUND(gain2, 6), ROUND(rmse2.rmse_after, 6)
FROM best2, rmse2
"""


@register(
    "gbdt_two_round_audit",
    survey=("ST14",),
    oracle=_gbdt_oracle(16, "0.5"),
)
def gbdt_two_round_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted stumps, two unrolled rounds, squared loss:
    predict scaled extendedprice from (quantity, discount). Each
    round is the histogram-split skeleton (ONE residual scan →
    ≤ F×B-row (count, Σresidual) shuffle → cumulative-window variance
    gains → global-rank argmax over the tiny gains frame), with the
    model-so-far (f0 + Σ lr·γ lookups) riding as broadcast one-row
    frames — the in-engine version of the GBM the reference's model
    zoo fits driver-side, and the boosting upgrade of
    decision_stump_gini. Both splits, all four leaf values, and each
    round's train RMSE are certified by the unrolled oracle
    (operators/trees.gbdt_two_round)."""
    from bio_lakehouse_spark.operators.trees import gbdt_two_round

    li = load(spark, sf_dir, "lineitem")
    out = gbdt_two_round(
        li,
        {
            "l_quantity": F.col("l_quantity"),
            "l_discount": F.col("l_discount"),
        },
        target=F.col("l_extendedprice") / 1000.0,
        nbins=16,
        lr=0.5,
    )
    return out.select(
        "round",
        "feature",
        R6(F.col("threshold")).alias("threshold"),
        R6(F.col("gamma_l")).alias("gamma_l"),
        R6(F.col("gamma_r")).alias("gamma_r"),
        R6(F.col("gain")).alias("gain"),
        R6(F.col("rmse_after")).alias("rmse_after"),
    )


@register(
    "nelson_aalen_hazard",
    survey=("ST8", "A13"),
    oracle=_CHURN_OBS_CTE + """, by_t AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS all_n
  FROM obs GROUP BY 1
), risk AS (
  SELECT t, d,
         CAST(SUM(all_n) OVER (ORDER BY t DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n
  FROM by_t
)
SELECT t AS duration_days, d AS n_events, n AS n_risk,
       ROUND(SUM(d / CAST(n AS DOUBLE))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW), 6) AS cum_hazard,
       ROUND(SUM(d / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW), 6) AS hazard_var
FROM risk WHERE d > 0 ORDER BY t
""",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(t)=Σ dᵢ/nᵢ with its Poisson
    variance Σ dᵢ/nᵢ² — Kaplan–Meier's estimator twin (KM ≈ exp(−H)),
    preferred when hazards are the modeling target (it feeds the Cox
    baseline). Same ``_churn_obs`` observations and one-aggregate +
    duration-frame-window shape as kaplan_meier_churn: suffix window
    for the risk set, prefix window for the hazard accumulation,
    nothing corpus-sized."""
    by_t = _churn_obs(spark, sf_dir).groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).alias("all_n"),
    )
    w_risk = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_haz = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.withColumn(
        "n", F.sum("all_n").over(w_risk).cast("long")
    )
    return (
        risk.withColumn(
            "cum_hazard",
            F.sum(F.col("d") / F.col("n").cast("double")).over(w_haz),
        )
        .withColumn(
            "hazard_var",
            F.sum(
                F.col("d")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).over(w_haz),
        )
        .where(F.col("d") > 0)
        .select(
            F.col("t").alias("duration_days"),
            F.col("d").alias("n_events"),
            F.col("n").alias("n_risk"),
            R6(F.col("cum_hazard")).alias("cum_hazard"),
            R6(F.col("hazard_var")).alias("hazard_var"),
        )
        .orderBy("duration_days")
    )


@register(
    "uplift_two_model_bins",
    survey=("ST11", "ST14", "A6"),
    oracle="""
WITH p AS (
  SELECT CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         THEN 1.0 ELSE 0.0 END AS t,
         SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
           AS yv,
         COUNT(*) / 100.0 AS x1
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id"""
    + _OUTCOME_MODEL_SQL
    + """
), scored AS (
  SELECT t, yv,
         (my1 - slope1 * mx1 + slope1 * x1)
           - (my0 - slope0 * mx0 + slope0 * x1) AS u
  FROM p, om
), lim AS (
  SELECT MIN(u) AS lo, MAX(u) AS hi FROM scored
), binned AS (
  SELECT least(4, cast(floor((u - lo) * 5.0
                             / nullif(hi - lo, 0.0)) as int)) AS bin,
         t, yv, u
  FROM scored, lim
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(u), 6) AS predicted_uplift,
       ROUND(AVG(CASE WHEN t = 1.0 THEN yv END)
             - AVG(CASE WHEN t = 0.0 THEN yv END), 6)
         AS observed_uplift
FROM binned GROUP BY bin ORDER BY bin
""",
)
def uplift_two_model_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-model calibration (two-model / T-learner): score each
    user's predicted treatment uplift u(x) = m₁(x) − m₀(x) from the
    per-arm closed-form OLS outcome models, bin users into 5
    equi-width uplift bands (one-row min/max broadcast — NOT a
    global NTILE sort, which wouldn't scale), and compare predicted
    vs OBSERVED uplift (treated-minus-control outcome) per band —
    the uplift calibration table behind Qini curves, and the
    targeting counterpart of gain_lift_by_decile. Shares the AIPW
    machinery: one per-user aggregate, one-row model frames, tiny
    band aggregate."""
    p = _treatment_frame(spark, sf_dir)
    scored = p.crossJoin(F.broadcast(_outcome_model(p))).select(
        "t", "yv", (_arm_outcome(1) - _arm_outcome(0)).alias("u")
    )
    lim = scored.agg(F.min("u").alias("lo"), F.max("u").alias("hi"))
    binned = scored.crossJoin(F.broadcast(lim)).select(
        F.expr(
            "least(4, cast(floor((u - lo) * 5.0"
            " / nullif(hi - lo, 0.0)) as int))"
        ).alias("bin"),
        "t",
        "yv",
        "u",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            R6(F.avg("u")).alias("predicted_uplift"),
            R6(
                F.avg(F.when(F.col("t") == 1.0, F.col("yv")))
                - F.avg(F.when(F.col("t") == 0.0, F.col("yv")))
            ).alias("observed_uplift"),
        )
        .orderBy("bin")
    )


@register(
    "isotonic_calibration_daily",
    survey=("ST7", "W2", "A1"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS w,
         AVG(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT d, w, y, ROW_NUMBER() OVER (ORDER BY d) AS k FROM daily
), cum AS (
  SELECT *, SUM(w * y) OVER (ORDER BY k) AS p,
         SUM(w) OVER (ORDER BY k) AS cw
  FROM idx
), pairs AS (
  SELECT i.k AS ik, j.k AS jk,
         (j.p - (i.p - i.w * i.y)) / (j.cw - (i.cw - i.w)) AS a
  FROM cum i JOIN cum j ON j.k >= i.k
), b AS (
  SELECT ik, jk,
         MIN(a) OVER (PARTITION BY ik ORDER BY jk DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS bmin
  FROM pairs
), fit AS (
  SELECT jk, MAX(bmin) AS y_fit FROM b GROUP BY jk
)
SELECT x.d AS date, CAST(x.w AS BIGINT) AS n_events,
       ROUND(x.y, 6) AS rate_raw, ROUND(f.y_fit, 6) AS rate_fit
FROM idx x JOIN fit f ON f.jk = x.k
""",
)
def isotonic_calibration_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic (monotone nondecreasing) regression of the
    daily purchase rate — the PAV fit every score-calibration layer
    (sklearn IsotonicRegression, ads pCTR calibration) runs, computed
    DISTRIBUTED via the minimax characterization ŷ(k) =
    max_{i≤k} min_{j≥k} weightedmean(y[i..j]) instead of the
    inherently sequential pool-merge (operators/stats.
    isotonic_fit_ordered). The O(D²) position-pair frame is quadratic
    in DAYS, never rows — the daily aggregate underneath is the only
    corpus-scale pass. The oracle mirrors the same two windowed
    passes in SQL; isotonicity + mean preservation are
    property-pinned in tests/test_hypothesis_stats.py."""
    from bio_lakehouse_spark.operators.stats import isotonic_fit_ordered

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg(
            F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
        ).alias("rate"),
    )
    out = isotonic_fit_ordered(daily, "date", "rate", "n_events")
    return out.select(
        "date",
        F.col("n_events").cast("long").alias("n_events"),
        R6(F.col("rate")).alias("rate_raw"),
        R6(F.col("y_fit")).alias("rate_fit"),
    )


def _huber_irls_oracle(iters: int = 3) -> str:
    """Unrolled-SQL twin of the Huber IRLS fit: OLS warm start, one
    MAD-scale CTE, then one weighted-least-squares CTE per iteration
    carrying (a, b, delta) scalars through a GROUP BY — the
    logistic_gd_audit treatment applied to robust regression."""
    sql = """
WITH d AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS x,
         ROUND(SUM(value), 6) AS y
  FROM events GROUP BY CAST(ts AS DATE)
), ols AS (
  SELECT (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
           / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS b
  FROM d
), i0 AS (
  SELECT (SELECT AVG(y) FROM d) - b * (SELECT AVG(x) FROM d) AS a, b
  FROM ols
), scale AS (
  SELECT 1.345 * 1.4826 * MEDIAN(ABS(y - a - b * x)) AS delta
  FROM d, i0
)"""
    prev = "i0"
    for k in range(1, iters + 1):
        sql += f""", i{k} AS (
  SELECT (swy - (swxy - swx * swy / sw)
                 / (swxx - swx * swx / sw) * swx) / sw AS a,
         (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS b
  FROM (
    SELECT SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
           SUM(w * x * x) AS swxx, SUM(w * x * y) AS swxy
    FROM (
      SELECT x, y,
             CASE WHEN ABS(y - a - b * x) <= delta THEN 1.0
                  ELSE delta / ABS(y - a - b * x) END AS w
      FROM d, {prev}, scale))
)"""
        prev = f"i{k}"
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(a, 6) AS intercept, ROUND(b, 6) AS slope,
       ROUND(delta, 6) AS delta,
       ROUND(AVG(CASE WHEN ABS(y - a - b * x) <= delta
                      THEN 0.5 * (y - a - b * x) * (y - a - b * x)
                      ELSE delta * (ABS(y - a - b * x) - 0.5 * delta)
                 END), 2) AS huber_loss
FROM d, {prev}, scale
GROUP BY a, b, delta
"""
    return sql


@register(
    "huber_irls_audit",
    survey=("ST14",),
    oracle=_huber_irls_oracle(),
)
def huber_irls_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust linear regression (Huber M-estimator) by IRLS,
    differentially certified: OLS warm start on the daily
    (n_events → total_value) frame, robust scale from the MAD of the
    warm-start residuals (delta = 1.345·1.4826·median|r|, the
    textbook 95%-efficiency tuning), then 3 weighted-least-squares
    iterations with Huber weights w = min(1, delta/|r|). Every
    iteration is ONE map-side-combinable aggregate with (a, b,
    delta) riding along as a broadcast one-row frame — the
    logistic_gd_fit shape; the median is a single exact-median
    aggregate over the daily grain (cross-engine pinned by
    mode_median_by_type). The DuckDB oracle unrolls the identical
    arithmetic CTE-per-iteration, certifying the whole IRLS
    trajectory. At 100 TB the daily grain is the only corpus-scale
    pass; iterations touch a days-sized frame."""
    from bio_lakehouse_spark.operators.stats import huber_irls_fit

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        R6(F.sum("value")).alias("y"),
    )
    params = huber_irls_fit(d, "x", "y", iters=3)
    r = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    loss = F.when(
        F.abs(r) <= F.col("delta"), 0.5 * r * r
    ).otherwise(F.col("delta") * (F.abs(r) - 0.5 * F.col("delta")))
    return (
        d.crossJoin(F.broadcast(params))
        .groupBy("a", "b", "delta")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.avg(loss).alias("huber_loss"),
        )
        .select(
            F.col("n_days"),
            R6(F.col("a")).alias("intercept"),
            R6(F.col("b")).alias("slope"),
            R6(F.col("delta")).alias("delta"),
            # quadratic loss at ~10⁶ magnitude: 2 decimals — ulp-scale
            # parameter/summation noise exceeds 6-decimal precision at
            # sf0.1 (r9 strict sweep), same rule as pricing_summary
            F.round(F.col("huber_loss"), 2).alias("huber_loss"),
        )
    )


def _poisson_irls_oracle(iters: int = 3) -> str:
    """Unrolled-SQL twin of the Poisson-GLM Newton iterations: each
    CTE carries (b0, b1) through a GROUP BY and applies the 2x2
    closed-form Newton step on the log-link likelihood."""
    sql = """
WITH d AS (
  SELECT EXTRACT(DAY FROM CAST(ts AS DATE)) / 31.0 AS x,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY CAST(ts AS DATE)
), i0 AS (
  SELECT LN(AVG(y)) AS b0, 0.0 AS b1 FROM d
)"""
    prev = "i0"
    for k in range(1, iters + 1):
        sql += f""", i{k} AS (
  SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
         b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
  FROM (
    SELECT b0, b1,
           SUM(y - mu) AS g0, SUM(x * (y - mu)) AS g1,
           SUM(mu) AS h00, SUM(x * mu) AS h01, SUM(x * x * mu) AS h11
    FROM (SELECT d.*, b0, b1, EXP(b0 + b1 * x) AS mu FROM d, {prev})
    GROUP BY b0, b1)
)"""
        prev = f"i{k}"
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1,
       ROUND(2.0 * SUM(CASE WHEN y > 0.0 THEN y * LN(y / mu) ELSE 0.0 END
                       - (y - mu)), 6) AS deviance
FROM (SELECT d.*, b0, b1, EXP(b0 + b1 * x) AS mu FROM d, {prev})
GROUP BY b0, b1
"""
    return sql


@register(
    "poisson_glm_irls_audit",
    survey=("ST14",),
    oracle=_poisson_irls_oracle(),
)
def poisson_glm_irls_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson GLM (log link) by Newton/IRLS, differentially
    certified: daily event COUNT regressed on day-of-month/31 with
    3 unrolled Newton steps from the saturated-intercept start
    b0 = ln(avg y) — gradient Sum(y − mu)·(1, x), Hessian
    Sum(mu)·(1,x)(1,x)ᵀ inverted in closed 2×2 form, plus the final
    model deviance. The count-data companion of logistic_gd_audit
    (same one-row broadcast parameter frame, same
    CTE-per-iteration oracle): each step is one map-side-combinable
    aggregate over the days-grain frame — at 100 TB the daily
    grouping is the only corpus-scale pass."""
    from bio_lakehouse_spark.operators.stats import poisson_glm_fit

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    ).select(
        (F.dayofmonth("date") / 31.0).alias("x"), "y"
    )
    beta = poisson_glm_fit(d, "x", "y", iters=3)
    mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
    # try_divide (r12 ANSI audit): a wildly negative fitted linear
    # predictor underflows mu = exp(·) to exactly 0 — the deviance
    # term is undefined there → NULL, not a job abort.
    dev_term = F.when(
        F.col("y") > 0.0,
        F.col("y") * F.log(F.try_divide(F.col("y"), mu)),
    ).otherwise(0.0) - (F.col("y") - mu)
    return (
        d.crossJoin(F.broadcast(beta))
        .groupBy("b0", "b1")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            (2.0 * F.sum(dev_term)).alias("deviance"),
        )
        .select(
            F.col("n_days"),
            R6(F.col("b0")).alias("b0"),
            R6(F.col("b1")).alias("b1"),
            R6(F.col("deviance")).alias("deviance"),
        )
    )


def _quantile_sgd_oracle(tau: float = 0.9, eta: float = 1.0,
                         iters: int = 5) -> str:
    """Unrolled-SQL twin of the pinball-loss subgradient descent:
    one CTE per step carries (a, b) through a GROUP BY and adds
    eta·avg-subgradient — the logistic_gd_audit treatment for the
    tau-quantile objective."""
    sql = """
WITH d AS (
  SELECT CAST(COUNT(*) AS DOUBLE) / 100.0 AS x,
         ROUND(SUM(value), 6) / 1000.0 AS y
  FROM events GROUP BY CAST(ts AS DATE)
), i0 AS (
  SELECT 0.0 AS a, 0.0 AS b
)"""
    prev = "i0"
    for k in range(1, iters + 1):
        sql += f""", i{k} AS (
  SELECT a + {eta} * AVG({tau} - CASE WHEN y - a - b * x < 0.0
                                      THEN 1.0 ELSE 0.0 END) AS a,
         b + {eta} * AVG(x * ({tau} - CASE WHEN y - a - b * x < 0.0
                                           THEN 1.0 ELSE 0.0 END)) AS b
  FROM d, {prev}
  GROUP BY a, b
)"""
        prev = f"i{k}"
    sql += f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(a, 6) AS intercept, ROUND(b, 6) AS slope,
       ROUND(AVG((y - a - b * x)
                 * ({tau} - CASE WHEN y - a - b * x < 0.0
                                 THEN 1.0 ELSE 0.0 END)), 6) AS pinball_loss
FROM d, {prev}
GROUP BY a, b
"""
    return sql


@register(
    "quantile_regression_sgd",
    survey=("ST14",),
    oracle=_quantile_sgd_oracle(),
)
def quantile_regression_sgd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tau=0.9 quantile regression (Koenker-Bassett pinball loss) by
    full-batch subgradient descent, differentially certified: 5
    unrolled steps of (a,b) += eta·avg((1,x)·(tau − 1{r<0})) on the
    scaled daily frame, plus the final mean pinball loss. The
    conditional-quantile member of the regression-audit family
    (OLS walk-forward, ridge Cramer, logistic GD, Huber IRLS,
    Poisson Newton) — the estimator behind p90-latency/value
    modeling, where the mean regressions are blind to the tail.
    Each step is ONE map-side-combinable aggregate with (a, b)
    riding broadcast; the oracle unrolls identical arithmetic, so
    the whole optimizer trajectory is cross-engine certified. The
    r = 0 subgradient choice (indicator strictly-less-than) is part
    of the pinned contract."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        (F.count(F.lit(1)).cast("double") / 100.0).alias("x"),
        (R6(F.sum("value")) / 1000.0).alias("y"),
    )
    tau, eta = 0.9, 1.0
    params = spark.range(1).select(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("b")
    )
    grad = tau - F.when(
        F.col("y") - F.col("a") - F.col("b") * F.col("x") < 0.0, 1.0
    ).otherwise(0.0)
    for _ in range(5):
        params = (
            d.crossJoin(F.broadcast(params))
            .groupBy("a", "b")
            .agg(
                F.avg(grad).alias("g0"),
                F.avg(F.col("x") * grad).alias("g1"),
            )
            .select(
                (F.col("a") + eta * F.col("g0")).alias("a"),
                (F.col("b") + eta * F.col("g1")).alias("b"),
            )
        )
    r = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    return (
        d.crossJoin(F.broadcast(params))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.avg(r * grad).alias("pinball_loss"),
        )
        .select(
            F.col("n_days"),
            R6(F.col("a")).alias("intercept"),
            R6(F.col("b")).alias("slope"),
            R6(F.col("pinball_loss")).alias("pinball_loss"),
        )
    )


@register(
    "hbos_outlier_scores",
    survey=("ST6", "A13", "F6"),
    oracle="""
WITH f AS (
  SELECT c.c_custkey,
         CAST(c.c_acctbal AS DOUBLE) AS x1,
         CAST(COALESCE(o.n, 0) AS DOUBLE) AS x2
  FROM customer c LEFT JOIN (
    SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1
  ) o ON o.o_custkey = c.c_custkey
), stats AS (
  SELECT MIN(x1) AS lo1, MAX(x1) AS hi1,
         MIN(x2) AS lo2, MAX(x2) AS hi2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM f
), binned AS (
  SELECT c_custkey,
         LEAST(15, CAST(FLOOR((x1 - lo1) * 16.0
                              / NULLIF(hi1 - lo1, 0.0)) AS INT)) AS b1,
         LEAST(15, CAST(FLOOR((x2 - lo2) * 16.0
                              / NULLIF(hi2 - lo2, 0.0)) AS INT)) AS b2,
         n
  FROM f, stats
), h1 AS (
  SELECT b1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM binned GROUP BY 1
), h2 AS (
  SELECT b2, CAST(COUNT(*) AS DOUBLE) AS c2 FROM binned GROUP BY 1
), scored AS (
  SELECT b.c_custkey,
         ROUND(-LN(h1.c1 / b.n) - LN(h2.c2 / b.n), 6) AS hbos
  FROM binned b JOIN h1 USING (b1) JOIN h2 USING (b2)
)
SELECT c_custkey, hbos FROM scored
ORDER BY hbos DESC, c_custkey LIMIT 20
""",
)
def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS (Histogram-Based Outlier Score, Goldstein & Dengel 2012)
    — the deterministic, embarrassingly-parallel anomaly detector
    production pipelines reach for before isolation forests: per
    feature an equi-width histogram (16 bins over account balance
    and order count), each record scored −Σ ln(density of its own
    bin), top-20 by score. Multivariate companion of the univariate
    `zscore_anomaly_days` / `mad_robust_anomaly`: a record is
    anomalous if it sits in thin bins of SEVERAL features, with no
    covariance estimation and nothing iterative. Plan shape: one
    min/max one-row broadcast, one bin assignment scan, two 16-row
    histograms broadcast back — the identical binning contract as
    decision_stump_gini (floor((x−lo)·16/(hi−lo)), top bin closed),
    so the cross-engine float behavior is already certified there.
    At 100 TB: histograms are fixed-size whatever N; the only
    corpus-scale work is two scans."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    n_ord = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    f = cust.join(n_ord, "c_custkey", "left").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("x1"),
        F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("x2"),
    )
    stats = f.agg(
        F.min("x1").alias("lo1"), F.max("x1").alias("hi1"),
        F.min("x2").alias("lo2"), F.max("x2").alias("hi2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )

    def bin_expr(x: str, lo: str, hi: str):
        return F.least(
            F.lit(15),
            F.floor(
                (F.col(x) - F.col(lo))
                * 16.0
                / F.nullif(F.col(hi) - F.col(lo), F.lit(0.0))
            ).cast("int"),
        )

    binned = f.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        bin_expr("x1", "lo1", "hi1").alias("b1"),
        bin_expr("x2", "lo2", "hi2").alias("b2"),
        "n",
    )
    h1 = binned.groupBy("b1").agg(
        F.count(F.lit(1)).cast("double").alias("c1")
    )
    h2 = binned.groupBy("b2").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    )
    scored = (
        binned.join(F.broadcast(h1), "b1")
        .join(F.broadcast(h2), "b2")
        .select(
            "c_custkey",
            R6(
                -F.log(F.col("c1") / F.col("n"))
                - F.log(F.col("c2") / F.col("n"))
            ).alias("hbos"),
        )
    )
    return scored.orderBy(F.desc("hbos"), "c_custkey").limit(20)


@register(
    "rmst_churn_audit",
    survey=("ST8", "A13", "W5"),
    oracle=_CHURN_OBS_CTE + """, by_t AS (
  SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM obs GROUP BY 1
), curve AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS n_risk
  FROM by_t
), surv AS (
  SELECT t, d,
         MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t) AS zero_flag,
         SUM(LN(CASE WHEN d >= n_risk THEN 1.0
                     ELSE 1.0 - CAST(d AS DOUBLE) / n_risk END))
           OVER (ORDER BY t) AS lnsum
  FROM curve
), ev AS (
  SELECT t,
         CASE WHEN zero_flag = 1 THEN 0.0 ELSE EXP(lnsum) END AS s
  FROM surv WHERE d > 0
), tau AS (
  SELECT CAST(MAX(t) AS DOUBLE) AS tau FROM obs
), seg AS (
  SELECT t, s, COALESCE(LEAD(t) OVER (ORDER BY t), tau) AS t_next
  FROM ev, tau
)
SELECT CAST((SELECT tau FROM tau) AS BIGINT) AS tau_days,
       CAST(COUNT(*) AS BIGINT) AS n_knots,
       ROUND((SELECT MIN(t) FROM ev)
             + SUM(s * (t_next - t)), 6) AS rmst_days,
       ROUND(MIN(s), 6) AS s_tau
FROM seg
""",
)
def rmst_churn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted Mean Survival Time at τ = max follow-up — the
    clinically-reported area under the Kaplan-Meier curve (expected
    customer lifetime within the observation window), computed as
    the exact step integral over the certified KM knots: S = 1 from
    0 to the first event time, then Σ S(tᵢ)·(tᵢ₊₁ − tᵢ) with the
    last segment closed at τ. Rides kaplan_meier_churn's
    ``_churn_obs`` duration-domain frame (corpus pass = one
    groupBy(duration));
    the integral is two window functions over the knot frame. The
    headline number a retention team quotes from the curve, now in
    the hash contract."""
    from bio_lakehouse_spark.operators.stats import kaplan_meier

    obs = _churn_obs(spark, sf_dir)
    km = kaplan_meier(obs, "t", "ev").select("duration", "survival")
    tau = obs.agg(F.max("t").cast("double").alias("tau"))
    seg = km.crossJoin(F.broadcast(tau)).select(
        "duration",
        "survival",
        F.coalesce(
            F.lead("duration").over(Window.orderBy("duration")).cast(
                "double"
            ),
            F.col("tau"),
        ).alias("t_next"),
        "tau",
    )
    return seg.agg(
        F.max("tau").cast("long").alias("tau_days"),
        F.count(F.lit(1)).cast("long").alias("n_knots"),
        R6(
            F.min("duration")
            + F.sum(F.col("survival") * (F.col("t_next") - F.col("duration")))
        ).alias("rmst_days"),
        R6(F.min("survival")).alias("s_tau"),
    )


@register(
    "mmd_two_sample_daily",
    survey=("ST3", "ST6", "A13"),
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS date,
         SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
  FROM events GROUP BY 1
), pool AS (
  SELECT AVG(v) AS mu, STDDEV_SAMP(v) AS sd
  FROM (SELECT x AS v FROM d UNION ALL SELECT y AS v FROM d) u
), z AS (
  SELECT date, (x - mu) / sd AS zx, (y - mu) / sd AS zy FROM d, pool
), kxx AS (
  SELECT SUM(EXP(-0.5 * (a.zx - b.zx) * (a.zx - b.zx))) AS s,
         CAST(COUNT(*) AS DOUBLE) AS np
  FROM z a JOIN z b ON a.date <> b.date
), kyy AS (
  SELECT SUM(EXP(-0.5 * (a.zy - b.zy) * (a.zy - b.zy))) AS s,
         CAST(COUNT(*) AS DOUBLE) AS np
  FROM z a JOIN z b ON a.date <> b.date
), kxy AS (
  SELECT SUM(EXP(-0.5 * (a.zx - b.zy) * (a.zx - b.zy))) AS s,
         CAST(COUNT(*) AS DOUBLE) AS np
  FROM z a JOIN z b ON true
)
SELECT CAST((SELECT COUNT(*) FROM z) AS BIGINT) AS n_days,
       ROUND((SELECT s / np FROM kxx), 6) AS kxx_mean,
       ROUND((SELECT s / np FROM kyy), 6) AS kyy_mean,
       ROUND((SELECT s / np FROM kxy), 6) AS kxy_mean,
       ROUND((SELECT s / np FROM kxx) + (SELECT s / np FROM kyy)
             - 2.0 * (SELECT s / np FROM kxy), 6) AS mmd2
""",
)
def mmd_two_sample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased MMD² two-sample test (Gretton et al., JMLR 2012)
    between the daily click-value and purchase-value distributions —
    the kernel two-sample test modern drift monitoring uses where
    KS/PSI only see marginals' CDF gaps: RBF kernel on
    pooled-standardized values (γ = 1/2 after z-scoring, the unit
    bandwidth the median heuristic approaches for standardized
    data), MMD² = mean k(x,x′) + mean k(y,y′) − 2·mean k(x,y) over
    off-diagonal pairs. The pair frames are DAYS² — the
    lowess/isotonic bounded-quadratic class — while the corpus-scale
    work is the one daily rollup. Companion of `ks_two_sample`
    (CDF-based) and `psi_drift_monitor` (binned)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("value")).otherwise(
                0.0
            )
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(0.0)
        ).alias("y"),
    )
    pool = (
        d.select(F.col("x").alias("v"))
        .unionAll(d.select(F.col("y").alias("v")))
        .agg(
            F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
        )
    )
    # try_divide (r12 ANSI audit): a POOLED sample that is entirely
    # constant (zero activity every day) has sd = 0 — the z-scores
    # and hence the MMD are undefined → NULL, not a job abort.
    z = d.crossJoin(F.broadcast(pool)).select(
        "date",
        F.try_divide(F.col("x") - F.col("mu"), F.col("sd")).alias("zx"),
        F.try_divide(F.col("y") - F.col("mu"), F.col("sd")).alias("zy"),
    ).localCheckpoint()
    a, b = z.alias("a"), z.alias("b")

    def rbf(u, v):
        return F.exp(-0.5 * (u - v) * (u - v))

    off = a.join(b, F.col("a.date") != F.col("b.date"))
    kxx = off.agg(
        (
            F.sum(rbf(F.col("a.zx"), F.col("b.zx")))
            / F.count(F.lit(1))
        ).alias("kxx_mean")
    )
    kyy = off.agg(
        (
            F.sum(rbf(F.col("a.zy"), F.col("b.zy")))
            / F.count(F.lit(1))
        ).alias("kyy_mean")
    )
    kxy = a.crossJoin(b).agg(
        (
            F.sum(rbf(F.col("a.zx"), F.col("b.zy")))
            / F.count(F.lit(1))
        ).alias("kxy_mean")
    )
    n = z.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        n.crossJoin(F.broadcast(kxx))
        .crossJoin(F.broadcast(kyy))
        .crossJoin(F.broadcast(kxy))
        .select(
            "n_days",
            R6(F.col("kxx_mean")).alias("kxx_mean"),
            R6(F.col("kyy_mean")).alias("kyy_mean"),
            R6(F.col("kxy_mean")).alias("kxy_mean"),
            R6(
                F.col("kxx_mean")
                + F.col("kyy_mean")
                - 2.0 * F.col("kxy_mean")
            ).alias("mmd2"),
        )
    )


@register(
    "shapley_linear_audit",
    survey=("ST14", "ST13"),
    oracle=_DAILY_EVENTS_CTE + """, p AS (
  SELECT date, n_events AS x1, avg_value AS x2,
         LEAD(total_value) OVER (ORDER BY date) AS y
  FROM d
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
         SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM p WHERE y IS NOT NULL
), c AS (
  SELECT n,
         s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y,
         s1 / n AS m1, s2 / n AS m2
  FROM m
), beta AS (
  SELECT m1, m2,
         ((c22 + 1.0) * c1y - c12 * c2y)
           / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b1,
         ((c11 + 1.0) * c2y - c12 * c1y)
           / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b2
  FROM c
), latest AS (
  SELECT x1 AS lx1, x2 AS lx2 FROM p WHERE y IS NOT NULL
  ORDER BY date DESC LIMIT 1
), phi AS (
  SELECT 'n_events' AS feature, b1 AS beta,
         AVG(ABS(b1 * (x1 - m1))) AS mean_abs_shap,
         MAX(b1 * (lx1 - m1)) AS last_day_shap
  FROM p, beta, latest WHERE y IS NOT NULL
  GROUP BY b1
  UNION ALL
  SELECT 'avg_value' AS feature, b2 AS beta,
         AVG(ABS(b2 * (x2 - m2))) AS mean_abs_shap,
         MAX(b2 * (lx2 - m2)) AS last_day_shap
  FROM p, beta, latest WHERE y IS NOT NULL
  GROUP BY b2
)
SELECT feature, ROUND(beta, 6) AS beta,
       ROUND(mean_abs_shap, 6) AS mean_abs_shap,
       ROUND(last_day_shap, 6) AS last_day_shap
FROM phi ORDER BY feature
""",
)
def shapley_linear_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP values for the certified ridge model — for a
    linear model the Shapley decomposition is closed-form,
    φ_k(x) = β_k·(x_k − E[x_k]) (Lundberg & Lee 2017, the Linear
    SHAP case), so the model-EXPLANATION layer gets the same
    differential treatment as the model itself
    (ridge_normal_equation_audit, whose Cramer solve this reuses):
    per-feature global importance E|φ_k| and the attribution of the
    LATEST day's prediction. One aggregate over the daily frame
    with (β, means, latest-x) riding one-row broadcasts — the
    explanation a feature-attribution dashboard serves, in the hash
    contract. At 100 TB: exact SHAP stays one scan for linear
    models; tree/kernel SHAP falls back to per-model audits
    (gbdt_two_round_audit pins the tree side)."""
    d = _daily_events(spark, sf_dir)
    p = d.select(
        "date",
        F.col("n_events").alias("x1"),
        F.col("avg_value").alias("x2"),
        F.lead("total_value").over(Window.orderBy("date")).alias("y"),
    ).filter(F.col("y").isNotNull()).localCheckpoint()
    m = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    c = m.select(
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
    )
    det = (F.col("c11") + 1.0) * (F.col("c22") + 1.0) - F.col("c12") * F.col(
        "c12"
    )
    beta = c.select(
        "m1",
        "m2",
        (
            ((F.col("c22") + 1.0) * F.col("c1y") - F.col("c12") * F.col("c2y"))
            / det
        ).alias("b1"),
        (
            ((F.col("c11") + 1.0) * F.col("c2y") - F.col("c12") * F.col("c1y"))
            / det
        ).alias("b2"),
    )
    latest = (
        p.orderBy(F.desc("date"))
        .limit(1)
        .select(F.col("x1").alias("lx1"), F.col("x2").alias("lx2"))
    )
    base = p.crossJoin(F.broadcast(beta)).crossJoin(F.broadcast(latest))
    phi1 = base.groupBy("b1").agg(
        F.avg(F.abs(F.col("b1") * (F.col("x1") - F.col("m1")))).alias(
            "mean_abs_shap"
        ),
        F.max(F.col("b1") * (F.col("lx1") - F.col("m1"))).alias(
            "last_day_shap"
        ),
    ).select(
        F.lit("n_events").alias("feature"),
        F.col("b1").alias("beta"),
        "mean_abs_shap",
        "last_day_shap",
    )
    phi2 = base.groupBy("b2").agg(
        F.avg(F.abs(F.col("b2") * (F.col("x2") - F.col("m2")))).alias(
            "mean_abs_shap"
        ),
        F.max(F.col("b2") * (F.col("lx2") - F.col("m2"))).alias(
            "last_day_shap"
        ),
    ).select(
        F.lit("avg_value").alias("feature"),
        F.col("b2").alias("beta"),
        "mean_abs_shap",
        "last_day_shap",
    )
    return (
        phi1.unionByName(phi2)
        .select(
            "feature",
            R6(F.col("beta")).alias("beta"),
            R6(F.col("mean_abs_shap")).alias("mean_abs_shap"),
            R6(F.col("last_day_shap")).alias("last_day_shap"),
        )
        .orderBy("feature")
    )


def _pd_oracle() -> str:
    """Partial-dependence oracle: logistic_gd_audit's feature frame
    and unrolled GD chain, then the model averaged over the data
    with x1 clamped to each grid point."""
    chain, beta = _gd_chain_sql("y", 4)
    return _LINEITEM_GD_P_SQL + chain + f""", grid AS (
  SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS v
)
SELECT v AS x1_grid,
       ROUND(AVG(1.0 / (1.0 + EXP(-(b0 + b1 * v + b2 * x2)))), 6)
         AS partial_dependence
FROM p, {beta}, grid
GROUP BY v ORDER BY v
"""


@register(
    "partial_dependence_audit",
    survey=("ST14", "ST5"),
    oracle=_pd_oracle(),
)
def partial_dependence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-dependence curve of the certified logistic model
    (Friedman 2001): PD(v) = E_x₂[σ(β₀ + β₁·v + β₂·x₂)] at five
    grid points of the scaled-quantity feature — the standard
    model-inspection readout next to SHAP (shapley_linear_audit
    covers the linear side; this marginalizes the trained GLM the
    way a model card plots it). The model is logistic_gd_audit's
    exact 4-step GD trajectory (the same fit and oracle chain);
    each grid point is one pass of the SAME map-side-combinable
    aggregate with (β, v) riding broadcast — grid × one scan, never
    grid × shuffle."""
    p = _lineitem_gd_frame(spark, sf_dir)
    beta = logistic_gd_fit(p, ["x1", "x2"], "y", steps=4)
    grid = spark.createDataFrame(
        [(0.1,), (0.3,), (0.5,), (0.7,), (0.9,)], "v double"
    )
    pd_s = sigmoid(linear_predictor(["v", "x2"]))
    return (
        p.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(grid))
        .groupBy("v")
        .agg(R6(F.avg(pd_s)).alias("partial_dependence"))
        .select(F.col("v").alias("x1_grid"), "partial_dependence")
        .orderBy("x1_grid")
    )


def _binseg_oracle(n_splits: int = 3) -> str:
    """Unrolled greedy binary segmentation: prefix sums once, then
    per split one candidate scan bounded by the current boundary set
    (the argmax-per-CTE treatment)."""
    sql = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS date, ROUND(SUM(value), 6) AS x
  FROM events GROUP BY 1
), p AS (
  SELECT date,
         ROW_NUMBER() OVER (ORDER BY date) AS rn,
         SUM(x) OVER (ORDER BY date) AS cs,
         SUM(x * x) OVER (ORDER BY date) AS css
  FROM d
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM p
), bnd0 AS (
  SELECT CAST(0 AS BIGINT) AS x
  UNION ALL SELECT nn FROM n
)"""
    for k in range(1, n_splits + 1):
        sql += f""", cand{k} AS (
  SELECT p.rn AS t,
         (SELECT MAX(x) FROM bnd{k-1} WHERE x < p.rn) AS a,
         (SELECT MIN(x) FROM bnd{k-1} WHERE x >= p.rn) AS b
  FROM p
  WHERE p.rn < (SELECT MAX(x) FROM bnd{k-1})
    AND p.rn NOT IN (SELECT x FROM bnd{k-1})
), gain{k} AS (
  SELECT c.t, c.a, c.b,
         (COALESCE(pb.css, 0) - COALESCE(pa.css, 0)
          - (COALESCE(pb.cs, 0) - COALESCE(pa.cs, 0))
            * (COALESCE(pb.cs, 0) - COALESCE(pa.cs, 0)) / (c.b - c.a))
       - (COALESCE(pt.css, 0) - COALESCE(pa.css, 0)
          - (COALESCE(pt.cs, 0) - COALESCE(pa.cs, 0))
            * (COALESCE(pt.cs, 0) - COALESCE(pa.cs, 0)) / (c.t - c.a))
       - (COALESCE(pb.css, 0) - COALESCE(pt.css, 0)
          - (COALESCE(pb.cs, 0) - COALESCE(pt.cs, 0))
            * (COALESCE(pb.cs, 0) - COALESCE(pt.cs, 0)) / (c.b - c.t))
         AS gain
  FROM cand{k} c
  LEFT JOIN p pa ON pa.rn = c.a
  LEFT JOIN p pb ON pb.rn = c.b
  LEFT JOIN p pt ON pt.rn = c.t
), pick{k} AS (
  SELECT t, gain FROM gain{k} ORDER BY gain DESC, t LIMIT 1
), bnd{k} AS (
  SELECT x FROM bnd{k-1} UNION ALL SELECT t FROM pick{k}
)"""
    picks = "\nUNION ALL ".join(
        f"SELECT {k} AS split_order, t, gain FROM pick{k}"
        for k in range(1, n_splits + 1)
    )
    return sql + f"""
SELECT s.split_order, p.date AS cp_date, ROUND(s.gain, 6) AS sse_drop
FROM ({picks}) s JOIN p ON p.rn = s.t
ORDER BY s.split_order
"""


@register(
    "binseg_changepoints",
    survey=("ST7", "W3", "A13"),
    oracle=_binseg_oracle(),
)
def binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy binary segmentation (Scott & Knott 1974; the offline
    standard behind ruptures.Binseg) on the daily revenue series —
    the OFFLINE changepoint detector next to the sequential monitors
    (cusum_changepoint, page_hinkley_drift): 3 splits, each chosen
    as the argmax SSE drop over all candidate positions given the
    current boundary set, computed entirely from ONE pass of prefix
    sums (SSE of any segment is css/cs/n differences — no rescan per
    candidate). Per split: candidates × a ≤5-row boundary frame,
    then a 1-row argmax (bounded driver-side pick, the bpe_train
    posture). Days-grain throughout; the corpus-scale work is the
    one daily rollup. Tie-break: earliest position — pinned in both
    engines."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        R6(F.sum("value")).alias("x")
    )
    w = Window.orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = d.select(
        "date",
        F.row_number().over(Window.orderBy("date")).alias("rn"),
        F.sum("x").over(w).alias("cs"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("css"),
    ).localCheckpoint()
    nn = p.count()
    bounds = [0, nn]
    picks: list[tuple[int, int, float]] = []
    pa = p.select(
        F.col("rn").alias("a"),
        F.col("cs").alias("cs_a"),
        F.col("css").alias("css_a"),
    )
    pb = p.select(
        F.col("rn").alias("b"),
        F.col("cs").alias("cs_b"),
        F.col("css").alias("css_b"),
    )
    for k in (1, 2, 3):
        bdf = spark.createDataFrame([(x,) for x in bounds], "x long")
        cand = (
            p.crossJoin(F.broadcast(bdf))
            .filter(F.col("rn") < max(bounds))
            .filter(~F.col("rn").isin(bounds))
            .groupBy("rn", "cs", "css")
            .agg(
                F.max(F.when(F.col("x") < F.col("rn"), F.col("x"))).alias(
                    "a"
                ),
                F.min(F.when(F.col("x") >= F.col("rn"), F.col("x"))).alias(
                    "b"
                ),
            )
        )
        g = (
            cand.join(F.broadcast(pa), "a", "left")
            .join(F.broadcast(pb), "b", "left")
        )
        csa = F.coalesce(F.col("cs_a"), F.lit(0.0))
        cssa = F.coalesce(F.col("css_a"), F.lit(0.0))
        csb = F.coalesce(F.col("cs_b"), F.lit(0.0))
        cssb = F.coalesce(F.col("css_b"), F.lit(0.0))
        cst, csst = F.col("cs"), F.col("css")
        gain = (
            (cssb - cssa - (csb - csa) * (csb - csa) / (F.col("b") - F.col("a")))
            - (csst - cssa - (cst - csa) * (cst - csa) / (F.col("rn") - F.col("a")))
            - (cssb - csst - (csb - cst) * (csb - cst) / (F.col("b") - F.col("rn")))
        )
        rows = (
            g.select(F.col("rn").alias("t"), gain.alias("gain"))
            # NULL gain (r13 all-NULL sweep: every daily revenue
            # NULL → NULL prefix sums) is not a usable split — drop
            # it so the no-candidates guard below stops splitting
            # instead of float(None) aborting on the driver.
            .where(F.col("gain").isNotNull())
            .orderBy(F.desc("gain"), F.asc("t"))
            .limit(1)
            .collect()
        )
        # Short series guard (r12 audit, same robustness family as
        # the ANSI sweep): with < k+2 observations every remaining
        # row is already a bound — no candidate splits exist and
        # collect()[0] raised IndexError on the driver. Stop
        # splitting instead; the output just has fewer picks.
        if not rows:
            break
        top = rows[0]
        picks.append((k, int(top["t"]), float(top["gain"])))
        bounds = sorted(bounds + [int(top["t"])])
    pk = spark.createDataFrame(
        picks, "split_order int, t long, gain double"
    )
    return (
        pk.join(F.broadcast(p.select("rn", "date")), pk["t"] == F.col("rn"))
        .select(
            "split_order",
            F.col("date").alias("cp_date"),
            R6(F.col("gain")).alias("sse_drop"),
        )
        .orderBy("split_order")
    )


@register(
    "mahalanobis_outliers",
    survey=("ST6", "A13", "F11"),
    oracle="""
WITH f AS (
  SELECT c.c_custkey,
         CAST(c.c_acctbal AS DOUBLE) AS x1,
         CAST(COALESCE(o.n, 0) AS DOUBLE) AS x2
  FROM customer c LEFT JOIN (
    SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1
  ) o ON o.o_custkey = c.c_custkey
), m AS (
  SELECT AVG(x1) AS m1, AVG(x2) AS m2,
         SUM(x1 * x1) / COUNT(*) - AVG(x1) * AVG(x1) AS v11,
         SUM(x2 * x2) / COUNT(*) - AVG(x2) * AVG(x2) AS v22,
         SUM(x1 * x2) / COUNT(*) - AVG(x1) * AVG(x2) AS v12
  FROM f
), scored AS (
  SELECT c_custkey,
         ROUND(((x1 - m1) * (x1 - m1) * v22
                - 2.0 * (x1 - m1) * (x2 - m2) * v12
                + (x2 - m2) * (x2 - m2) * v11)
               / (v11 * v22 - v12 * v12), 6) AS d2
  FROM f, m
)
SELECT c_custkey, d2 FROM scored
ORDER BY d2 DESC, c_custkey LIMIT 20
""",
)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mahalanobis-distance outliers over (account balance, order
    count) — the covariance-aware companion of `hbos_outlier_scores`
    (HBOS treats features independently; Mahalanobis catches points
    that are unremarkable per-axis but off the correlation ridge).
    The 2×2 covariance inverts in closed form, so the whole detector
    is ONE moment aggregate (population covariance from raw sums)
    broadcast back onto the scan: d² = Δᵀ Σ⁻¹ Δ expanded to scalar
    arithmetic, top-20 by (rounded d², key). At 100 TB: two scans —
    moments, then scoring; d features mean a d²-sized broadcast and
    the same two scans (the inverse runs driver-side like the ridge
    Cramer solve)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    n_ord = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    f = cust.join(n_ord, "c_custkey", "left").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("x1"),
        F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("x2"),
    )
    nr = F.count(F.lit(1))
    m = f.agg(
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        (F.sum(F.col("x1") * F.col("x1")) / nr
         - F.avg("x1") * F.avg("x1")).alias("v11"),
        (F.sum(F.col("x2") * F.col("x2")) / nr
         - F.avg("x2") * F.avg("x2")).alias("v22"),
        (F.sum(F.col("x1") * F.col("x2")) / nr
         - F.avg("x1") * F.avg("x2")).alias("v12"),
    )
    d1 = F.col("x1") - F.col("m1")
    d2c = F.col("x2") - F.col("m2")
    det = F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")
    # try_divide (r12 ANSI audit): COLLINEAR or constant features
    # (every customer with identical counts) make the covariance
    # singular — Mahalanobis distance is undefined → NULL rows sort
    # last under desc, not a job abort. (No +1 ridge here, unlike
    # the regression audits whose det is bounded away from 0.)
    d2 = F.try_divide(
        d1 * d1 * F.col("v22")
        - 2.0 * d1 * d2c * F.col("v12")
        + d2c * d2c * F.col("v11"),
        det,
    )
    return (
        f.crossJoin(F.broadcast(m))
        .select("c_custkey", R6(d2).alias("d2"))
        .orderBy(F.desc("d2"), "c_custkey")
        .limit(20)
    )


def _poisson_dispersion_oracle() -> str:
    """Reuses the Poisson-GLM oracle chain verbatim, then the Pearson
    dispersion statistic over the fitted means."""
    pg = _poisson_irls_oracle()
    chain = pg[: pg.rindex("\nSELECT CAST(COUNT(*) AS BIGINT)")]
    return chain + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(SUM((y - mu) * (y - mu) / mu) / (COUNT(*) - 2), 6)
         AS pearson_dispersion,
       ROUND(AVG(y), 6) AS mean_y,
       ROUND((SUM(y * y) / COUNT(*) - AVG(y) * AVG(y))
             * COUNT(*) / (COUNT(*) - 1) / AVG(y), 6)
         AS variance_mean_ratio
FROM (SELECT d.*, b0, b1, EXP(b0 + b1 * x) AS mu FROM d, i3)
GROUP BY b0, b1
"""


@register(
    "poisson_dispersion_audit",
    survey=("ST14", "ST6"),
    oracle=_poisson_dispersion_oracle(),
)
def poisson_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion check of the certified Poisson GLM — the test
    you run BEFORE trusting Poisson standard errors: the Pearson
    dispersion statistic Σ(y−μ̂)²/μ̂ / (n−p) (≈1 under a true
    Poisson; ≫1 says negative-binomial territory) plus the raw
    sample variance/mean ratio. Reuses poisson_glm_irls_audit's
    exact Newton trajectory (oracle chain verbatim); one extra
    aggregate over the days frame with β riding broadcast. The
    model-criticism companion every GLM audit needs — same posture
    as ece_calibration_audit for the classifier."""
    from bio_lakehouse_spark.operators.stats import poisson_glm_fit

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    ).select(
        (F.dayofmonth("date") / 31.0).alias("x"), "y"
    )
    beta = poisson_glm_fit(d, "x", "y", iters=3)
    mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
    n = F.count(F.lit(1))
    return (
        d.crossJoin(F.broadcast(beta))
        .groupBy("b0", "b1")
        .agg(
            n.cast("long").alias("n_days"),
            # try_divide (r12 ANSI audit): dispersion needs the
            # n−2 residual dof (a 2-day series zeroes it) and a
            # positive fitted mu (extreme fits underflow exp to 0);
            # the variance/mean ratio needs n ≥ 2. All undefined →
            # NULL, not a job abort. avg(y) ≥ 1: y is a daily COUNT.
            R6(
                F.try_divide(
                    F.sum(
                        F.try_divide(
                            (F.col("y") - mu) * (F.col("y") - mu), mu
                        )
                    ),
                    n - 2,
                )
            ).alias("pearson_dispersion"),
            R6(F.avg("y")).alias("mean_y"),
            R6(
                F.try_divide(
                    (F.sum(F.col("y") * F.col("y")) / n
                     - F.avg("y") * F.avg("y"))
                    * n,
                    n - 1,
                ) / F.avg("y")
            ).alias("variance_mean_ratio"),
        )
        .select(
            "n_days", "pearson_dispersion", "mean_y",
            "variance_mean_ratio",
        )
    )
