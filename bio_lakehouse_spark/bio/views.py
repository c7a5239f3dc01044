"""The 11 analytics views (ref models/analytics/*.sql) as Spark SQL
ports of the dbt models over ``gold_daily_rollup`` (SURVEY.md §7.2
phase 3): one statement per view, ``gold`` bound by name through
``spark.sql(text, gold=df)``.

Dialect edges are one snippet each, next to their Column twins:
``TRY(CAST ...)`` → ``safe_date_sql``, ``date_trunc('week')`` →
``week_start_sql``, ``corr`` → the ANSI-safe ``safe_corr_sql``, and
the TSS macro → ``gold.TSS_SQL``. Texts that inline a snippet are
f-strings, so their ``{{gold}}`` is written doubled. Fractional literals carry a ``D``
suffix (a bare ``4.0`` is a DECIMAL in Spark SQL). Windows are global
ORDER BY date (single-user grain; SURVEY §7.1.5 for the partitioned
variant).

``register_views(spark, gold)`` publishes every view plus the gold
tables into the session catalog so the SQL facade / NL-to-SQL surface
sees the same names the reference exposes through Athena.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bio_lakehouse_spark.bio.gold import TSS_SQL
from bio_lakehouse_spark.functions.dates import safe_date_sql, week_start_sql
from bio_lakehouse_spark.operators.stats import safe_corr_sql


_DASHBOARD_30DAY = """
SELECT date, readiness_score, sleep_score, activity_score,
  combined_wellness_score, workout_count, total_output_kj,
  total_workout_minutes, avg_watts, max_avg_hr,
  readiness_to_output_ratio, had_workout, steps, active_calories,
  peloton_calories, disciplines, hk_workout_types,
  avg(readiness_score) OVER w7 AS readiness_7day_avg,
  avg(sleep_score) OVER w7 AS sleep_7day_avg,
  avg(total_output_kj) OVER w7 AS output_7day_avg,
  avg(readiness_score) OVER w30 AS readiness_30day_avg,
  avg(sleep_score) OVER w30 AS sleep_30day_avg
FROM {gold}
WINDOW w7 AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       w30 AS (ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY date DESC
"""


def dashboard_30day(gold: DataFrame) -> DataFrame:
    """dashboard_30day.sql: pass-through metrics + 7/30-day rolling
    averages, newest first (O2)."""
    return gold.sparkSession.sql(_DASHBOARD_30DAY, gold=gold)


_ENERGY_STATE = """
SELECT date, readiness_score, sleep_score,
  CAST(hrv_balance_score AS INT) AS hrv_balance,
  activity_score, combined_wellness_score, had_workout, workout_count,
  total_output_kj, avg_watts, disciplines,
  CASE WHEN readiness_score >= 85 AND sleep_score >= 88
            AND CAST(hrv_balance_score AS INT) >= 75 THEN 'peak'
       WHEN readiness_score >= 85 AND sleep_score >= 80 THEN 'high'
       WHEN readiness_score >= 70 AND sleep_score >= 65 THEN 'moderate'
       WHEN readiness_score >= 50 THEN 'low'
       ELSE 'recovery_needed' END AS energy_state,
  CASE WHEN readiness_score >= 85 AND sleep_score >= 88
            AND CAST(hrv_balance_score AS INT) >= 75
         THEN '125% Energy -- Peak state. Go all out: HIIT, Tabata, hard cycling, or high-stakes interview prep.'
       WHEN readiness_score >= 85 AND sleep_score >= 80
         THEN 'High energy. Great for hard cycling, bootcamp, or deep technical study sessions.'
       WHEN readiness_score >= 70 AND sleep_score >= 65
         THEN 'Moderate energy. Good for endurance rides, strength training, or steady interview prep.'
       WHEN readiness_score >= 50
         THEN 'Low energy. Stick to yoga, stretching, or light walk. Avoid draining meetings.'
       ELSE 'Recovery needed. Rest day or gentle meditation. No high-pressure activities.'
  END AS guidance,
  CASE WHEN readiness_to_output_ratio > 4.0D THEN 'overreaching'
       WHEN readiness_to_output_ratio >= 2.5D THEN 'high_performance'
       WHEN readiness_to_output_ratio >= 1.5D THEN 'moderate'
       WHEN readiness_to_output_ratio > 0 THEN 'undertrained'
       ELSE 'no_workout' END AS output_zone,
  readiness_to_output_ratio,
  avg(readiness_score) OVER w3 AS readiness_3day_avg,
  avg(sleep_score) OVER w3 AS sleep_3day_avg,
  readiness_score - lag(readiness_score, 1) OVER wd AS readiness_delta,
  sleep_score - lag(sleep_score, 1) OVER wd AS sleep_delta
FROM {gold}
WHERE readiness_score IS NOT NULL
WINDOW w3 AS (ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       wd AS (ORDER BY date)
"""


def energy_state(gold: DataFrame) -> DataFrame:
    """energy_state.sql: peak/high/moderate/low/recovery banding +
    guidance + output zones + 3-day trailing stats + deltas."""
    return gold.sparkSession.sql(_ENERGY_STATE, gold=gold)


_WEEKLY_SUMMARY = f"""
WITH wk AS (
  SELECT {week_start_sql(safe_date_sql('date'))} AS week_start,
    avg(readiness_score) AS _avg_readiness,
    avg(sleep_score) AS _avg_sleep,
    avg(combined_wellness_score) AS _avg_wellness,
    sum(total_output_kj) AS _weekly_output_kj,
    sum(peloton_calories) AS weekly_calories,
    count(CASE WHEN had_workout = true THEN 1 END) AS workout_days,
    avg(CASE WHEN had_workout = true THEN avg_watts END) AS _avg_watts,
    avg(CASE WHEN had_workout = true THEN max_avg_hr END) AS _avg_max_hr,
    sum(steps) AS weekly_steps,
    sum(active_calories) AS weekly_active_cal
  FROM {{gold}}
  WHERE readiness_score IS NOT NULL
  GROUP BY {week_start_sql(safe_date_sql('date'))}
)
SELECT week_start,
  round(_avg_readiness, 1) AS avg_readiness,
  round(_avg_sleep, 1) AS avg_sleep,
  round(_avg_wellness, 1) AS avg_wellness,
  round(_weekly_output_kj, 1) AS weekly_output_kj,
  weekly_calories,
  workout_days,
  round(_avg_watts, 1) AS avg_watts,
  round(_avg_max_hr, 0) AS avg_max_hr,
  weekly_steps,
  weekly_active_cal,
  round(_avg_readiness - lag(_avg_readiness) OVER w, 1) AS readiness_change,
  round(_avg_sleep - lag(_avg_sleep) OVER w, 1) AS sleep_change,
  round(_weekly_output_kj - lag(_weekly_output_kj) OVER w, 1) AS output_change,
  workout_days - lag(workout_days) OVER w AS workout_days_change,
  CASE WHEN _avg_readiness > lag(_avg_readiness) OVER w
            AND _weekly_output_kj > lag(_weekly_output_kj) OVER w THEN 'improving'
       WHEN _avg_readiness < lag(_avg_readiness) OVER w
            AND _weekly_output_kj < lag(_weekly_output_kj) OVER w THEN 'declining'
       WHEN _avg_readiness < lag(_avg_readiness) OVER w
            AND _weekly_output_kj > lag(_weekly_output_kj) OVER w THEN 'overreaching'
       WHEN _avg_readiness > lag(_avg_readiness) OVER w
            AND _weekly_output_kj < lag(_weekly_output_kj) OVER w THEN 'recovering'
       ELSE 'stable' END AS trend
FROM wk
WINDOW w AS (ORDER BY week_start)
ORDER BY week_start DESC
"""


def weekly_summary(gold: DataFrame) -> DataFrame:
    """weekly_summary.sql (A5): Monday-week grouping over safe-parsed
    dates, conditional aggregates, week-over-week deltas, trend label.
    """
    return gold.sparkSession.sql(_WEEKLY_SUMMARY, gold=gold)


_OVERTRAINING_RISK = """
SELECT date, readiness_score, sleep_score,
  CAST(hrv_balance_score AS INT) AS hrv_balance,
  combined_wellness_score, total_output_kj, workout_count, disciplines,
  readiness_to_output_ratio,
  readiness_score - avg(readiness_score)
    OVER (ORDER BY date ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    AS readiness_vs_3day,
  sum(CASE WHEN had_workout = true THEN 1 ELSE 0 END) OVER w3
    AS workouts_last_3_days,
  CASE WHEN readiness_score < 65
            AND readiness_score < lag(readiness_score, 1) OVER wd
            AND readiness_score < lag(readiness_score, 2) OVER wd
         THEN 'high_risk'
       WHEN readiness_score < 70
            AND sum(CASE WHEN had_workout = true THEN 1 ELSE 0 END) OVER w3 >= 3
         THEN 'moderate_risk'
       WHEN readiness_to_output_ratio > 4.0D THEN 'moderate_risk'
       ELSE 'low_risk' END AS overtraining_risk,
  CASE WHEN readiness_score < 65
            AND readiness_score < lag(readiness_score, 1) OVER wd
            AND readiness_score < lag(readiness_score, 2) OVER wd
         THEN 'Readiness declining 3+ days in a row and below 65. Take a rest day.'
       WHEN readiness_score < 70
            AND sum(CASE WHEN had_workout = true THEN 1 ELSE 0 END) OVER w3 >= 3
         THEN 'Low readiness with 3 consecutive workout days. Schedule recovery.'
       WHEN readiness_to_output_ratio > 4.0D
         THEN 'Output-to-readiness ratio is very high. You pushed hard despite low recovery.'
       ELSE 'Recovery looks good. Train as planned.' END AS risk_guidance
FROM {gold}
WHERE readiness_score IS NOT NULL
WINDOW w3 AS (ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       wd AS (ORDER BY date)
"""


def overtraining_risk(gold: DataFrame) -> DataFrame:
    """overtraining_risk.sql: 3-day baselines, consecutive workout
    days, risk banding + guidance."""
    return gold.sparkSession.sql(_OVERTRAINING_RISK, gold=gold)


def _correlation_segment(label: str, where: str) -> str:
    # safe_corr (r12 ANSI audit): a segment with a constant column (a
    # user whose readiness never moves, or the single-day High/Low
    # slices) crashes corr under Spark 4 ANSI — NULL matches the
    # reference's pandas/scipy NaN on the same segments.
    return f"""
SELECT '{label}' AS segment, count(1) AS sample_size,
  round({safe_corr_sql('readiness_score', 'total_output_kj')}, 3)
    AS readiness_output_corr,
  round({safe_corr_sql('sleep_score', 'total_output_kj')}, 3)
    AS sleep_output_corr,
  round({safe_corr_sql('CAST(hrv_balance_score AS DOUBLE)', 'total_output_kj')}, 3)
    AS hrv_output_corr,
  round({safe_corr_sql('sleep_score', 'readiness_score')}, 3)
    AS sleep_readiness_corr,
  round(avg(readiness_score), 1) AS avg_readiness,
  round(avg(sleep_score), 1) AS avg_sleep,
  round(avg(total_output_kj), 1) AS avg_output_kj,
  round(avg(avg_watts), 1) AS avg_watts
FROM {{gold}}
WHERE had_workout = true AND total_output_kj > 0 AND {where}"""


_READINESS_PERFORMANCE_CORRELATION = "\nUNION ALL".join([
    _correlation_segment("All Days", "readiness_score IS NOT NULL"),
    _correlation_segment("High Readiness (85+)", "readiness_score >= 85"),
    _correlation_segment("Low Readiness (<70)", "readiness_score < 70"),
])


def readiness_performance_correlation(gold: DataFrame) -> DataFrame:
    """readiness_performance_correlation.sql (SET1/A7): three segment
    aggregates UNION ALL'd (All / High≥85 / Low<70)."""
    return gold.sparkSession.sql(_READINESS_PERFORMANCE_CORRELATION, gold=gold)


_SLEEP_ARCHITECTURE = """
SELECT s.date AS day, g.sleep_score AS sleep_score,
  s.deep_sleep_score AS deep_sleep, s.rem_sleep_score AS rem_sleep
FROM {stg_sleep} s
JOIN {gold} g ON s.date = g.date
WHERE s.deep_sleep_score IS NOT NULL OR s.rem_sleep_score IS NOT NULL
"""


def sleep_architecture(gold: DataFrame, stg_sleep_df: DataFrame) -> DataFrame:
    """sleep_architecture.sql (J4): staging sleep ⋈ gold on date."""
    return gold.sparkSession.sql(
        _SLEEP_ARCHITECTURE, gold=gold, stg_sleep=stg_sleep_df
    )


_SLEEP_PERFORMANCE_PREDICTION = f"""
SELECT a.date AS sleep_date, b.date AS performance_date,
  a.sleep_score AS prev_night_sleep,
  CASE WHEN a.sleep_score >= 88 THEN 'Excellent (88+)'
       WHEN a.sleep_score >= 75 THEN 'Good (75-87)'
       WHEN a.sleep_score >= 60 THEN 'Fair (60-74)'
       ELSE 'Poor (<60)' END AS sleep_quality,
  b.readiness_score AS next_day_readiness,
  b.total_output_kj AS next_day_output,
  b.avg_watts AS next_day_avg_watts,
  b.had_workout AS next_day_worked_out,
  b.disciplines AS next_day_disciplines,
  b.combined_wellness_score AS next_day_wellness,
  CASE WHEN a.sleep_score > 0
       THEN round(CAST(b.readiness_score AS DOUBLE) / a.sleep_score, 2)
  END AS sleep_to_readiness_ratio
FROM {{gold}} a
JOIN {{gold}} b
  ON {safe_date_sql('b.date')} = date_add({safe_date_sql('a.date')}, 1)
WHERE a.sleep_score IS NOT NULL AND b.readiness_score IS NOT NULL
"""


def sleep_performance_prediction(gold: DataFrame) -> DataFrame:
    """sleep_performance_prediction.sql (J3): next-day self-join pairing
    each night's sleep with the following day's readiness/output."""
    return gold.sparkSession.sql(_SLEEP_PERFORMANCE_PREDICTION, gold=gold)


_TEMPERATURE_TRENDS = """
SELECT date AS day,
  CAST(temperature_deviation AS DOUBLE) AS temp_deviation,
  CAST(temperature_deviation AS DOUBLE)
    - lag(CAST(temperature_deviation AS DOUBLE), 1) OVER (ORDER BY date)
    AS temp_trend_deviation,
  avg(CAST(temperature_deviation AS DOUBLE))
    OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    AS temp_dev_7day_avg,
  CASE WHEN abs(CAST(temperature_deviation AS DOUBLE)) > 0.5D THEN 'elevated'
       WHEN abs(CAST(temperature_deviation AS DOUBLE)) > 0.3D THEN 'mild'
       ELSE 'normal' END AS temp_status,
  readiness_score
FROM {gold}
WHERE CAST(temperature_deviation AS DOUBLE) IS NOT NULL
"""


def temperature_trends(gold: DataFrame) -> DataFrame:
    """temperature_trends.sql: deviation deltas + 7-day average +
    elevated/mild/normal banding."""
    return gold.sparkSession.sql(_TEMPERATURE_TRENDS, gold=gold)


_TRAINING_LOAD_DAILY = f"""
SELECT date, had_workout, total_output_kj, total_workout_minutes,
  max_avg_hr, peloton_calories, active_calories, hk_calories,
  hk_workout_minutes, {TSS_SQL} AS tss
FROM {{gold}}
ORDER BY date
"""


def training_load_daily(gold: DataFrame) -> DataFrame:
    """training_load_daily.sql: the TSS ladder re-derived per day."""
    return gold.sparkSession.sql(_TRAINING_LOAD_DAILY, gold=gold)


_WORKOUT_RECOMMENDATIONS = """
SELECT date, readiness_score, sleep_score, combined_wellness_score,
  avg(readiness_score)
    OVER (ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    AS readiness_3day_avg,
  CASE WHEN readiness_score >= 85 AND sleep_score >= 80 THEN 'high_intensity'
       WHEN readiness_score >= 70 AND sleep_score >= 65 THEN 'moderate_intensity'
       WHEN readiness_score >= 50 THEN 'low_intensity'
       ELSE 'rest_day' END AS recommended_intensity,
  CASE WHEN readiness_score >= 85 AND sleep_score >= 80
         THEN 'Great recovery! Go for a hard cycling or bootcamp session.'
       WHEN readiness_score >= 70 AND sleep_score >= 65
         THEN 'Decent recovery. Moderate ride or strength training recommended.'
       WHEN readiness_score >= 50
         THEN 'Below average recovery. Stick to yoga, stretching, or light walk.'
       ELSE 'Poor recovery. Consider a rest day or gentle meditation.'
  END AS recommendation_text,
  lag(total_output_kj, 1) OVER wd AS prev_day_output_kj,
  lag(workout_count, 1) OVER wd AS prev_day_workout_count,
  lag(total_workout_minutes, 1) OVER wd AS prev_day_workout_mins
FROM {gold}
WINDOW wd AS (ORDER BY date)
ORDER BY date DESC
"""


def workout_recommendations(gold: DataFrame) -> DataFrame:
    """workout_recommendations.sql: intensity recommendation banding +
    previous-day loads."""
    return gold.sparkSession.sql(_WORKOUT_RECOMMENDATIONS, gold=gold)


_WORKOUT_TYPE_OPTIMIZATION = """
WITH wd AS (
  SELECT date, readiness_score, sleep_score,
    CASE WHEN readiness_score >= 85 THEN 'High (85+)'
         WHEN readiness_score >= 70 THEN 'Medium (70-84)'
         ELSE 'Low (<70)' END AS readiness_bucket,
    CASE WHEN disciplines LIKE '%Cycling%' THEN 'Cycling'
         WHEN disciplines LIKE '%Strength%' OR hk_workout_types LIKE '%strength%'
           THEN 'Strength'
         WHEN hk_workout_types LIKE '%walking%' OR hk_workout_types LIKE '%hiking%'
           THEN 'Walking'
         WHEN hk_workout_types LIKE '%running%' OR disciplines LIKE '%Bootcamp%'
              OR hk_workout_types LIKE '%high_intensity%'
           THEN 'Cardio'
         WHEN disciplines LIKE '%Yoga%' OR disciplines LIKE '%Stretching%'
              OR disciplines LIKE '%Meditation%' OR hk_workout_types LIKE '%yoga%'
              OR hk_workout_types LIKE '%flexibility%'
              OR hk_workout_types LIKE '%pilates%'
           THEN 'Recovery'
         ELSE coalesce(nullif(disciplines, ''), hk_workout_types, 'Other')
    END AS workout_type,
    total_output_kj, avg_watts, total_workout_minutes, peloton_calories,
    max_avg_hr, readiness_to_output_ratio
  FROM {gold}
  WHERE had_workout = true AND readiness_score IS NOT NULL
)
SELECT readiness_bucket, workout_type, count(1) AS sample_days,
  round(avg(total_output_kj), 1) AS avg_output_kj,
  round(avg(avg_watts), 1) AS avg_watts,
  round(avg(peloton_calories), 0) AS avg_calories,
  round(avg(total_workout_minutes), 0) AS avg_duration_min,
  round(avg(max_avg_hr), 0) AS avg_max_hr,
  round(avg(readiness_to_output_ratio), 2) AS avg_ratio,
  round(avg(readiness_score), 1) AS avg_readiness_in_bucket,
  round(avg(sleep_score), 1) AS avg_sleep_in_bucket
FROM wd
GROUP BY readiness_bucket, workout_type
HAVING sample_days >= 2
ORDER BY readiness_bucket, avg_output_kj DESC
"""


def workout_type_optimization(gold: DataFrame) -> DataFrame:
    """workout_type_optimization.sql (A6/F8): readiness buckets ×
    LIKE-matched workout types, HAVING n≥2."""
    return gold.sparkSession.sql(_WORKOUT_TYPE_OPTIMIZATION, gold=gold)


VIEWS = {
    "dashboard_30day": dashboard_30day,
    "energy_state": energy_state,
    "weekly_summary": weekly_summary,
    "overtraining_risk": overtraining_risk,
    "readiness_performance_correlation": readiness_performance_correlation,
    "sleep_performance_prediction": sleep_performance_prediction,
    "temperature_trends": temperature_trends,
    "training_load_daily": training_load_daily,
    "workout_recommendations": workout_recommendations,
    "workout_type_optimization": workout_type_optimization,
    # sleep_architecture needs staging sleep too — handled separately in
    # register_views.
}


def register_views(
    spark: SparkSession, gold: DataFrame, stg_sleep_df: DataFrame
) -> list[str]:
    """Publish gold + all 11 views as temp views for the SQL facade."""
    gold.createOrReplaceTempView("gold_daily_rollup")
    names = ["gold_daily_rollup"]
    for name, fn in VIEWS.items():
        fn(gold).createOrReplaceTempView(name)
        names.append(name)
    sleep_architecture(gold, stg_sleep_df).createOrReplaceTempView(
        "sleep_architecture"
    )
    names.append("sleep_architecture")
    return names
