"""Gold tables: ``gold_daily_rollup``, ``feature_readiness_daily``,
``workout_recovery_windows`` (SURVEY.md §7.2 phase 3).

Spark SQL ports of the dbt models (ref models/gold/gold_daily_rollup.sql,
models/features/feature_readiness_daily.sql,
models/gold/workout_recovery_windows.sql, macros/tss_calculation.sql):
one statement per model, its input DataFrames bound by name through
``spark.sql(text, name=df)``. The FULL OUTER chain joins ``USING
(date)``, whose key coalescing is exactly the reference's manual
``COALESCE(r.date, s.date, ...)`` accumulation (SURVEY §7.4.2).
Texts that inline a shared snippet are f-strings, so their input
placeholders are written doubled (``{{gold}}``). Fractional literals
carry a ``D`` suffix: a bare ``0.6`` is a DECIMAL in Spark SQL and
would change result types.

Windows are global ``ORDER BY date`` — correct for the single-user
grain; the multi-entity version at scale adds ``PARTITION BY`` the
entity (SURVEY §7.1.5).

Gold is day grain for one person: one row per calendar day, ~150 on
the fixture and ~2k after years of daily refreshes. ``build_gold``
returns the rollup pinned (``pin_day_grain``): one in-memory
partition, which the two window tables, the 11 views, the briefing
and the SQL facade all read instead of re-scanning parquet.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bio_lakehouse_spark.functions.dates import day_of_week_iso_sql, safe_date_sql
from bio_lakehouse_spark.session import fan_out

# ---------------------------------------------------------------------------
# Staging (ref models/staging/stg_sleep.sql)
# ---------------------------------------------------------------------------

_STG_SLEEP = """
SELECT day AS date, score AS sleep_score,
       contributors_deep_sleep AS deep_sleep_score,
       contributors_rem_sleep AS rem_sleep_score,
       contributors_efficiency AS sleep_efficiency_score,
       contributors_total_sleep AS total_sleep_score
FROM {oura_daily_sleep}
"""


def stg_sleep(silver: DataFrame) -> DataFrame:
    """stg_sleep.sql: rename-projection."""
    return silver.sparkSession.sql(_STG_SLEEP, oura_daily_sleep=silver)


# ---------------------------------------------------------------------------
# gold_daily_rollup (ref models/gold/gold_daily_rollup.sql)
# ---------------------------------------------------------------------------

# The staging CTEs are the stg_*.sql models (peloton and HealthKit
# workouts roll up per day, A1/A2; set aggregates are sorted so the
# output is deterministic, SURVEY §7.4.5). Vitals and body collapse
# same-day readings to the LAST non-null value per column by the
# scan-order ``reading_seq`` the normalizer materialized, vitals also
# averaging two columns (A3/W8/W7).
_GOLD_DAILY_ROLLUP = f"""
WITH r AS (
  SELECT day AS date, score AS readiness_score,
         contributors_hrv_balance AS hrv_balance_score,
         contributors_resting_heart_rate AS resting_hr_score,
         contributors_previous_night AS previous_night_score,
         contributors_recovery_index AS recovery_index_score,
         temperature_deviation
  FROM {{oura_daily_readiness}}
), s AS ({_STG_SLEEP}
), a AS (
  SELECT day AS date, score AS activity_score, active_calories, steps,
         total_calories
  FROM {{oura_daily_activity}}
), p AS (
  SELECT date_format(workout_date, 'yyyy-MM-dd') AS date,
         count(1) AS workout_count,
         sum(total_output_kj) AS total_output_kj,
         sum(calories_burned) AS peloton_calories,
         avg(avg_watts) AS avg_watts,
         max(avg_heartrate) AS max_avg_hr,
         avg(output_per_minute) AS avg_output_per_minute,
         array_join(array_sort(collect_set(workout_category)), ',')
           AS workout_categories,
         sum(length_minutes) AS total_workout_minutes,
         array_join(array_sort(collect_set(fitness_discipline)), ',')
           AS disciplines
  FROM {{peloton_workouts}}
  GROUP BY date_format(workout_date, 'yyyy-MM-dd')
), v AS (
  SELECT date,
         max_by(resting_heart_rate_bpm, reading_seq)
           FILTER (WHERE resting_heart_rate_bpm IS NOT NULL)
           AS resting_heart_rate_bpm,
         max_by(hrv_ms, reading_seq) FILTER (WHERE hrv_ms IS NOT NULL) AS hrv_ms,
         max_by(vo2_max, reading_seq) FILTER (WHERE vo2_max IS NOT NULL) AS vo2_max,
         avg(blood_oxygen_pct) AS blood_oxygen_pct,
         avg(respiratory_rate) AS respiratory_rate
  FROM {{healthkit_daily_vitals}}
  GROUP BY date
), hw AS (
  SELECT date, count(1) AS hk_workout_count,
         sum(calories_burned) AS hk_calories,
         sum(duration_minutes) AS hk_workout_minutes,
         array_join(array_sort(collect_set(workout_category)), ',')
           AS hk_workout_categories,
         array_join(array_sort(collect_set(workout_type)), ',')
           AS hk_workout_types
  FROM {{healthkit_workouts}}
  GROUP BY date
), b AS (
  SELECT date,
         max_by(weight_lbs, reading_seq) FILTER (WHERE weight_lbs IS NOT NULL)
           AS weight_lbs,
         max_by(body_fat_pct, reading_seq) FILTER (WHERE body_fat_pct IS NOT NULL)
           AS body_fat_pct,
         max_by(bmi, reading_seq) FILTER (WHERE bmi IS NOT NULL) AS bmi,
         max_by(lean_body_mass_lbs, reading_seq)
           FILTER (WHERE lean_body_mass_lbs IS NOT NULL) AS lean_body_mass_lbs
  FROM {{healthkit_body}}
  GROUP BY date
), m AS (
  SELECT date, sum(duration_minutes) AS mindfulness_minutes,
         sum(session_count) AS mindfulness_session_count
  FROM {{healthkit_mindfulness}}
  GROUP BY date
), n AS (
  SELECT date, calories AS daily_calories, protein_g,
         carbohydrates_g AS carbs_g, fat_g, fiber_g, sugar_g, sodium_mg,
         protein_pct, carb_pct, fat_pct, meal_count
  FROM {{mfp_daily_nutrition}}
), joined AS (
  SELECT *
  FROM r
  FULL OUTER JOIN s USING (date)
  FULL OUTER JOIN a USING (date)
  FULL OUTER JOIN p USING (date)
  FULL OUTER JOIN v USING (date)
  LEFT JOIN hw USING (date)
  LEFT JOIN b USING (date)
  LEFT JOIN m USING (date)
  LEFT JOIN n USING (date)
)
SELECT *,
  CASE WHEN readiness_score IS NOT NULL AND readiness_score > 0
            AND total_output_kj IS NOT NULL
       THEN round(CAST(total_output_kj AS DOUBLE) / readiness_score, 2)
  END AS readiness_to_output_ratio,
  CASE WHEN readiness_score IS NOT NULL AND sleep_score IS NOT NULL
       THEN round(readiness_score * 0.6D + sleep_score * 0.4D, 1)
       ELSE CAST(coalesce(readiness_score, sleep_score) AS DOUBLE)
  END AS combined_wellness_score,
  coalesce(workout_count, 0) + coalesce(hk_workout_count, 0)
    AS total_workout_count,
  coalesce(peloton_calories, 0) + coalesce(hk_calories, 0)
    AS total_calories_all_sources,
  coalesce(total_workout_minutes, 0) + coalesce(hk_workout_minutes, 0.0D)
    AS total_workout_minutes_all,
  coalesce(workout_count, 0) + coalesce(hk_workout_count, 0) > 0
    AS had_workout,
  CASE WHEN readiness_score IS NOT NULL AND sleep_score IS NOT NULL
            AND mindfulness_minutes IS NOT NULL AND mindfulness_minutes > 0
       THEN least(round(readiness_score * 0.6D + sleep_score * 0.4D
                        + least(mindfulness_minutes / 10.0D, 3.0D), 1),
                  100.0D)
       WHEN readiness_score IS NOT NULL AND sleep_score IS NOT NULL
       THEN round(readiness_score * 0.6D + sleep_score * 0.4D, 1)
       ELSE CAST(coalesce(readiness_score, sleep_score) AS DOUBLE)
  END AS mindfulness_adjusted_wellness,
  CASE WHEN protein_g IS NOT NULL AND weight_lbs IS NOT NULL AND weight_lbs > 0
       THEN round(CAST(protein_g AS DOUBLE) / weight_lbs, 2)
  END AS protein_per_lb,
  substring(date, 1, 4) AS year,
  substring(date, 6, 2) AS month
FROM joined
WHERE date IS NOT NULL
"""


def gold_daily_rollup(silver: dict[str, DataFrame]) -> DataFrame:
    """The Gold join: readiness ⟗ sleep ⟗ activity ⟗ peloton ⟗ vitals
    (full outer, coalesced date key) then LEFT hk_workouts / body /
    mindfulness / nutrition, plus the derived metrics block
    (gold_daily_rollup.sql:91-215)."""
    spark = silver["oura_daily_readiness"].sparkSession
    return spark.sql(_GOLD_DAILY_ROLLUP, **silver)


# ---------------------------------------------------------------------------
# TSS (ref macros/tss_calculation.sql)
# ---------------------------------------------------------------------------

# 5-tier Training Stress Score fallback ladder over gold columns (F6 —
# power data, then Peloton calories×minutes, HK active
# calories×minutes, HK workout calories×minutes, active calories alone;
# each tier capped).
TSS_SQL = """CASE
  WHEN had_workout = false THEN 0.0D
  WHEN total_output_kj IS NOT NULL AND total_output_kj > 0
    THEN least(300.0D, total_output_kj * coalesce(max_avg_hr, 140) / 600.0D)
  WHEN peloton_calories IS NOT NULL AND peloton_calories > 0
       AND total_workout_minutes IS NOT NULL AND total_workout_minutes > 0
    THEN least(300.0D, peloton_calories * total_workout_minutes / 150.0D)
  WHEN active_calories IS NOT NULL AND active_calories > 0
       AND total_workout_minutes IS NOT NULL AND total_workout_minutes > 0
    THEN least(300.0D, active_calories * total_workout_minutes / 450.0D)
  WHEN hk_calories IS NOT NULL AND hk_calories > 0
       AND hk_workout_minutes IS NOT NULL AND hk_workout_minutes > 0
    THEN least(300.0D, hk_calories * hk_workout_minutes / 450.0D)
  WHEN active_calories IS NOT NULL AND active_calories > 0
    THEN least(200.0D, active_calories / 12.0D)
  ELSE 0.0D
END"""


# ---------------------------------------------------------------------------
# feature_readiness_daily (ref models/features/feature_readiness_daily.sql)
# ---------------------------------------------------------------------------

_FEATURE_READINESS_DAILY = f"""
WITH with_tss AS (
  SELECT *, {TSS_SQL} AS tss
  FROM {{gold}}
  WHERE date IS NOT NULL
), feats AS (
  SELECT date, readiness_score, sleep_score,
    CAST(deep_sleep_score AS DOUBLE) AS deep_sleep_score,
    CAST(rem_sleep_score AS DOUBLE) AS rem_sleep_score,
    CAST(total_sleep_score AS DOUBLE) AS total_sleep_score,
    CAST(hrv_balance_score AS DOUBLE) AS hrv_balance_score,
    CAST(resting_heart_rate_bpm AS DOUBLE) AS resting_hr,
    CAST(hrv_ms AS DOUBLE) AS hrv_ms,
    CASE WHEN had_workout = true THEN 1 ELSE 0 END AS had_workout,
    tss,
    avg(readiness_score) OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      AS readiness_7d_avg,
    avg(sleep_score) OVER (ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      AS sleep_score_3d_avg,
    (readiness_score - lag(readiness_score, 2) OVER (ORDER BY date)) / 2.0D
      AS readiness_3d_slope,
    sum(tss) OVER (ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      AS cumulative_tss_3d,
    sum(tss) OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      AS cumulative_tss_7d,
    avg(tss) OVER (ORDER BY date ROWS BETWEEN 41 PRECEDING AND CURRENT ROW) AS ctl,
    avg(tss) OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS atl,
    avg(tss) OVER (ORDER BY date ROWS BETWEEN 41 PRECEDING AND CURRENT ROW)
      - avg(tss) OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      AS tsb,
    {day_of_week_iso_sql(safe_date_sql('date'))} AS day_of_week,
    sum(CASE WHEN had_workout = true THEN 1 ELSE 0 END)
      OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      AS workouts_last_7d,
    avg(sleep_score) OVER (ORDER BY date ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
      AS sleep_baseline_14d,
    sleep_score
      - avg(sleep_score) OVER (ORDER BY date ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
      AS sleep_deficit_daily,
    CAST(hrv_ms AS DOUBLE) - lag(CAST(hrv_ms AS DOUBLE), 2) OVER (ORDER BY date)
      AS hrv_2day_change,
    lead(readiness_score, 1) OVER (ORDER BY date) AS next_day_readiness
  FROM with_tss
), derived AS (
  SELECT *,
    sum(sleep_deficit_daily)
      OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      AS sleep_debt_7d,
    CASE WHEN hrv_2day_change > 10 THEN 'rising'
         WHEN hrv_2day_change < -10 THEN 'falling'
         ELSE 'stable' END AS hrv_velocity_flag
  FROM feats
)
SELECT * FROM derived WHERE readiness_score IS NOT NULL
"""


def feature_readiness_daily(gold: DataFrame) -> DataFrame:
    """Window feature table: rolling averages, slopes, cumulative TSS,
    CTL/ATL/TSB (rolling-AVG approximation — the SQL-layer EMA
    semantics, W10), ISO day-of-week, sleep debt, HRV velocity, LEAD
    target. Windows run over ALL non-null dates; the readiness filter
    applies last — frame contents must match the reference exactly."""
    return gold.sparkSession.sql(_FEATURE_READINESS_DAILY, gold=gold)


# ---------------------------------------------------------------------------
# workout_recovery_windows (ref models/gold/workout_recovery_windows.sql)
# ---------------------------------------------------------------------------

_WORKOUT_RECOVERY_WINDOWS = """
WITH daily AS (
  SELECT date, readiness_score, sleep_score,
    coalesce(workout_count, 0) + coalesce(hk_workout_count, 0) AS total_workouts,
    coalesce(total_workout_minutes, 0) + coalesce(hk_workout_minutes, 0.0D)
      AS total_minutes,
    coalesce(peloton_calories, 0) + coalesce(hk_calories, 0) AS total_calories,
    total_output_kj, max_avg_hr,
    CASE WHEN had_workout = true THEN 1 ELSE 0 END AS had_workout,
    lead(readiness_score, 1) OVER (ORDER BY date) AS readiness_d1,
    lead(readiness_score, 2) OVER (ORDER BY date) AS readiness_d2,
    lead(readiness_score, 3) OVER (ORDER BY date) AS readiness_d3,
    lead(sleep_score, 1) OVER (ORDER BY date) AS sleep_d1,
    lead(sleep_score, 2) OVER (ORDER BY date) AS sleep_d2,
    lag(readiness_score, 1) OVER (ORDER BY date) AS readiness_prev,
    avg(readiness_score) OVER (ORDER BY date ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      AS readiness_7d_baseline
  FROM {gold}
  WHERE date IS NOT NULL
)
SELECT date AS workout_date,
  readiness_score AS workout_day_readiness,
  sleep_score AS workout_day_sleep,
  total_workouts, total_minutes, total_calories, total_output_kj,
  max_avg_hr, readiness_7d_baseline,
  CASE WHEN total_output_kj >= 300 OR total_calories >= 400 OR total_minutes >= 60
         THEN 'high'
       WHEN total_output_kj >= 150 OR total_calories >= 200 OR total_minutes >= 30
         THEN 'moderate'
       ELSE 'light' END AS intensity,
  readiness_d1, readiness_d2, readiness_d3, sleep_d1, sleep_d2,
  readiness_d1 - readiness_score AS readiness_delta_d1,
  readiness_d2 - readiness_score AS readiness_delta_d2,
  readiness_d3 - readiness_score AS readiness_delta_d3,
  CASE WHEN readiness_d1 >= readiness_7d_baseline THEN 1
       WHEN readiness_d2 >= readiness_7d_baseline THEN 2
       WHEN readiness_d3 >= readiness_7d_baseline THEN 3
  END AS days_to_recover
FROM daily
WHERE had_workout = 1 AND readiness_score IS NOT NULL
"""


def workout_recovery_windows(gold: DataFrame) -> DataFrame:
    """Per-workout-day recovery trajectory: LEAD readiness/sleep d1-d3,
    intensity banding, deltas, and days-to-recover vs the 7-day
    excluding-current baseline."""
    return gold.sparkSession.sql(_WORKOUT_RECOVERY_WINDOWS, gold=gold)


# ---------------------------------------------------------------------------
# Orchestration
# ---------------------------------------------------------------------------


def pin_day_grain(df: DataFrame) -> DataFrame:
    """``df`` computed once into a single in-memory partition.

    Only for frames of one person whose rows are O(calendar days):
    gold, and the silver sleep and workout tables the report reads.
    One partition already satisfies every required distribution, so
    an unpartitioned window ordered by date, a global aggregate or a
    group-by over the pinned frame plans no exchange, and every later
    read comes from the block manager instead of parquet. The blocks
    live as long as something references the frame (a temp view
    holds it until the next refresh replaces the view); then Spark's
    ContextCleaner frees them."""
    return df.coalesce(1).localCheckpoint()


def load_silver(
    spark: SparkSession,
    silver_root: str,
    schemas: Mapping[str, StructType] | None = None,
) -> dict[str, DataFrame]:
    """The nine silver tables under ``silver_root``. A table with an
    entry in ``schemas`` (the data schemas ``run_silver`` returns) is
    read with it, which spares the one-task job Spark otherwise runs
    to infer the schema from a parquet footer."""
    from bio_lakehouse_spark.bio.silver import SILVER_TABLES

    schemas = schemas or {}
    return {
        t: (spark.read.schema(schemas[t]) if t in schemas else spark.read)
        .parquet(f"{silver_root}/{t}")
        for t in SILVER_TABLES
    }


def build_gold(
    spark: SparkSession,
    silver_root: str,
    gold_root: str | None = None,
    silver_schemas: Mapping[str, StructType] | None = None,
) -> dict[str, DataFrame]:
    """All three gold tables from silver parquet; optionally persisted
    (the reference's ~45 s daily CTAS refresh becomes three writes).
    ``silver_schemas`` are the schemas ``run_silver`` wrote; without
    them each silver read infers its schema. A persisted rollup is
    read back with the schema it was just written with.

    The returned rollup is pinned (``pin_day_grain``): the read-back
    when persisted, else the computed join. Both window tables are
    built on it, and so is every consumer of the returned frame."""
    silver = load_silver(spark, silver_root, silver_schemas)
    rollup = gold_daily_rollup(silver)
    if gold_root:
        from bio_lakehouse_spark.sources.sinks import write_partitioned_parquet

        path = f"{gold_root}/gold_daily_rollup"
        schema = write_partitioned_parquet(rollup, path, ["year", "month"])
        rollup = spark.read.schema(schema).parquet(path)
    rollup = pin_day_grain(rollup)
    features = feature_readiness_daily(rollup)
    recovery = workout_recovery_windows(rollup)
    if gold_root:
        # Both windows read the pinned rollup and write their own
        # directory: independent jobs, run concurrently.
        fan_out([
            lambda: features.write.mode("overwrite").parquet(
                f"{gold_root}/feature_readiness_daily"
            ),
            lambda: recovery.write.mode("overwrite").parquet(
                f"{gold_root}/workout_recovery_windows"
            ),
        ])
    return {
        "gold_daily_rollup": rollup,
        "feature_readiness_daily": features,
        "workout_recovery_windows": recovery,
    }
