"""Gold tables: ``gold_daily_rollup``, ``feature_readiness_daily``,
``workout_recovery_windows`` (SURVEY.md §7.2 phase 3).

DataFrame-native ports of the dbt models (ref
models/gold/gold_daily_rollup.sql, models/features/
feature_readiness_daily.sql, models/gold/workout_recovery_windows.sql,
macros/tss_calculation.sql). The FULL OUTER chain uses Spark's
named-column join, whose automatic key coalescing is exactly the SQL's
manual ``COALESCE(r.date, s.date, ...)`` accumulation (SURVEY §7.4.2).

Windows are global ``ORDER BY date`` — correct for the single-user
grain; every window helper takes a partition key for the multi-entity
version at scale (SURVEY §7.1.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.functions.dates import day_of_week_iso, safe_date
from bio_lakehouse_spark.session import fan_out


def _sorted_set(col: str) -> Column:
    """ARRAY_JOIN(ARRAY_AGG(DISTINCT x), ',') with a sort for
    deterministic output (the reference's is engine-order —
    SURVEY §7.4.5)."""
    return F.array_join(F.array_sort(F.collect_set(col)), ",")


# ---------------------------------------------------------------------------
# Staging aggregates (ref models/staging/*.sql)
# ---------------------------------------------------------------------------


def stg_readiness(silver: DataFrame) -> DataFrame:
    """stg_readiness.sql: rename-projection."""
    return silver.select(
        F.col("day").alias("date"),
        F.col("score").alias("readiness_score"),
        F.col("contributors_hrv_balance").alias("hrv_balance_score"),
        F.col("contributors_resting_heart_rate").alias("resting_hr_score"),
        F.col("contributors_previous_night").alias("previous_night_score"),
        F.col("contributors_recovery_index").alias("recovery_index_score"),
        "temperature_deviation",
    )


def stg_sleep(silver: DataFrame) -> DataFrame:
    """stg_sleep.sql: rename-projection."""
    return silver.select(
        F.col("day").alias("date"),
        F.col("score").alias("sleep_score"),
        F.col("contributors_deep_sleep").alias("deep_sleep_score"),
        F.col("contributors_rem_sleep").alias("rem_sleep_score"),
        F.col("contributors_efficiency").alias("sleep_efficiency_score"),
        F.col("contributors_total_sleep").alias("total_sleep_score"),
    )


def stg_activity(silver: DataFrame) -> DataFrame:
    """gold_daily_rollup.sql:19-26 activity CTE."""
    return silver.select(
        F.col("day").alias("date"),
        F.col("score").alias("activity_score"),
        "active_calories",
        "steps",
        "total_calories",
    )


def stg_peloton(silver: DataFrame) -> DataFrame:
    """stg_peloton_workouts.sql: daily workout rollup (A1)."""
    return (
        silver.groupBy(
            F.date_format("workout_date", "yyyy-MM-dd").alias("date")
        )
        .agg(
            F.count(F.lit(1)).alias("workout_count"),
            F.sum("total_output_kj").alias("total_output_kj"),
            F.sum("calories_burned").alias("peloton_calories"),
            F.avg("avg_watts").alias("avg_watts"),
            F.max("avg_heartrate").alias("max_avg_hr"),
            F.avg("output_per_minute").alias("avg_output_per_minute"),
            _sorted_set("workout_category").alias("workout_categories"),
            F.sum("length_minutes").alias("total_workout_minutes"),
            _sorted_set("fitness_discipline").alias("disciplines"),
        )
    )


def stg_hk_workouts(silver: DataFrame) -> DataFrame:
    """stg_healthkit_workouts.sql: daily rollup (A2)."""
    return silver.groupBy("date").agg(
        F.count(F.lit(1)).alias("hk_workout_count"),
        F.sum("calories_burned").alias("hk_calories"),
        F.sum("duration_minutes").alias("hk_workout_minutes"),
        _sorted_set("workout_category").alias("hk_workout_categories"),
        _sorted_set("workout_type").alias("hk_workout_types"),
    )


def stg_nutrition(silver: DataFrame) -> DataFrame:
    """stg_nutrition.sql: rename-projection."""
    return silver.select(
        "date",
        F.col("calories").alias("daily_calories"),
        "protein_g",
        F.col("carbohydrates_g").alias("carbs_g"),
        "fat_g", "fiber_g", "sugar_g", "sodium_mg", "cholesterol_mg",
        "protein_pct", "carb_pct", "fat_pct", "meal_count", "meals_logged",
    )


def _last_of_day(
    silver: DataFrame, cols_last: list[str], cols_avg: list[str]
) -> DataFrame:
    """gold_daily_rollup.sql:32-76 (A3/W8/W7): collapse multiple
    same-day readings to the LAST non-null value per column (by the
    scan-order ``reading_seq`` the normalizer materialized) plus the
    day's mean for the averaged vitals."""
    aggs = [
        F.expr(
            f"max_by({c}, reading_seq) FILTER (WHERE {c} IS NOT NULL)"
        ).alias(c)
        for c in cols_last
    ]
    aggs += [F.avg(c).alias(c) for c in cols_avg]
    return silver.groupBy("date").agg(*aggs)


# ---------------------------------------------------------------------------
# gold_daily_rollup (ref models/gold/gold_daily_rollup.sql)
# ---------------------------------------------------------------------------


def gold_daily_rollup(silver: dict[str, DataFrame]) -> DataFrame:
    """The Gold join: readiness ⟗ sleep ⟗ activity ⟗ peloton ⟗ vitals
    (full outer, coalesced date key) then LEFT hk_workouts / body /
    mindfulness / nutrition, plus the derived metrics block
    (gold_daily_rollup.sql:91-215)."""
    r = stg_readiness(silver["oura_daily_readiness"])
    s = stg_sleep(silver["oura_daily_sleep"])
    a = stg_activity(silver["oura_daily_activity"])
    p = stg_peloton(silver["peloton_workouts"])
    v = _last_of_day(
        silver["healthkit_daily_vitals"],
        cols_last=["resting_heart_rate_bpm", "hrv_ms", "vo2_max"],
        cols_avg=["blood_oxygen_pct", "respiratory_rate"],
    )
    hw = stg_hk_workouts(silver["healthkit_workouts"])
    b = _last_of_day(
        silver["healthkit_body"],
        cols_last=["weight_lbs", "body_fat_pct", "bmi", "lean_body_mass_lbs"],
        cols_avg=[],
    )
    m = silver["healthkit_mindfulness"].groupBy("date").agg(
        F.sum("duration_minutes").alias("mindfulness_minutes"),
        F.sum("session_count").alias("mindfulness_session_count"),
    )
    n = stg_nutrition(silver["mfp_daily_nutrition"])

    joined = (
        r.join(s, on="date", how="full_outer")
        .join(a, on="date", how="full_outer")
        .join(p, on="date", how="full_outer")
        .join(v, on="date", how="full_outer")
        .join(hw, on="date", how="left")
        .join(b, on="date", how="left")
        .join(m, on="date", how="left")
        .join(n.drop("cholesterol_mg", "meals_logged"), on="date", how="left")
    )

    rs = F.col("readiness_score")
    ss = F.col("sleep_score")
    out_kj = F.col("total_output_kj")
    wellness = F.round(rs * 0.6 + ss * 0.4, 1)
    mind_bonus = F.least(F.col("mindfulness_minutes") / 10.0, F.lit(3.0))
    total_workouts = (
        F.coalesce(F.col("workout_count"), F.lit(0))
        + F.coalesce(F.col("hk_workout_count"), F.lit(0))
    )
    derived = joined.select(
        "*",
        F.when(
            rs.isNotNull() & (rs > 0) & out_kj.isNotNull(),
            F.round(out_kj.cast("double") / rs, 2),
        ).alias("readiness_to_output_ratio"),
        F.when(rs.isNotNull() & ss.isNotNull(), wellness)
        .otherwise(F.coalesce(rs, ss).cast("double"))
        .alias("combined_wellness_score"),
        total_workouts.alias("total_workout_count"),
        (
            F.coalesce(F.col("peloton_calories"), F.lit(0))
            + F.coalesce(F.col("hk_calories"), F.lit(0))
        ).alias("total_calories_all_sources"),
        (
            F.coalesce(F.col("total_workout_minutes"), F.lit(0))
            + F.coalesce(F.col("hk_workout_minutes"), F.lit(0.0))
        ).alias("total_workout_minutes_all"),
        (total_workouts > 0).alias("had_workout"),
        F.when(
            rs.isNotNull() & ss.isNotNull()
            & F.col("mindfulness_minutes").isNotNull()
            & (F.col("mindfulness_minutes") > 0),
            F.least(F.round(rs * 0.6 + ss * 0.4 + mind_bonus, 1), F.lit(100.0)),
        )
        .when(rs.isNotNull() & ss.isNotNull(), wellness)
        .otherwise(F.coalesce(rs, ss).cast("double"))
        .alias("mindfulness_adjusted_wellness"),
        F.when(
            F.col("protein_g").isNotNull()
            & F.col("weight_lbs").isNotNull()
            & (F.col("weight_lbs") > 0),
            F.round(F.col("protein_g").cast("double") / F.col("weight_lbs"), 2),
        ).alias("protein_per_lb"),
        F.substring("date", 1, 4).alias("year"),
        F.substring("date", 6, 2).alias("month"),
    )
    return derived.filter(F.col("date").isNotNull())


# ---------------------------------------------------------------------------
# TSS (ref macros/tss_calculation.sql)
# ---------------------------------------------------------------------------


def tss_expr(
    had_workout: str = "had_workout",
    total_output_kj: str = "total_output_kj",
    max_avg_hr: str = "max_avg_hr",
    peloton_calories: str = "peloton_calories",
    total_workout_minutes: str = "total_workout_minutes",
    active_calories: str = "active_calories",
    hk_calories: str = "hk_calories",
    hk_workout_minutes: str = "hk_workout_minutes",
) -> Column:
    """5-tier Training Stress Score fallback ladder (F6 — power data,
    then Peloton calories×minutes, HK active calories×minutes, HK
    workout calories×minutes, active calories alone; each tier capped).
    """
    hw = F.col(had_workout)
    out = F.col(total_output_kj)
    hr = F.col(max_avg_hr)
    pcal = F.col(peloton_calories)
    mins = F.col(total_workout_minutes)
    acal = F.col(active_calories)
    hcal = F.col(hk_calories)
    hmin = F.col(hk_workout_minutes)
    return (
        F.when(hw == False, F.lit(0.0))  # noqa: E712
        .when(
            out.isNotNull() & (out > 0),
            F.least(F.lit(300.0), out * F.coalesce(hr, F.lit(140)) / 600.0),
        )
        .when(
            pcal.isNotNull() & (pcal > 0) & mins.isNotNull() & (mins > 0),
            F.least(F.lit(300.0), pcal * mins / 150.0),
        )
        .when(
            acal.isNotNull() & (acal > 0) & mins.isNotNull() & (mins > 0),
            F.least(F.lit(300.0), acal * mins / 450.0),
        )
        .when(
            hcal.isNotNull() & (hcal > 0) & hmin.isNotNull() & (hmin > 0),
            F.least(F.lit(300.0), hcal * hmin / 450.0),
        )
        .when(acal.isNotNull() & (acal > 0), F.least(F.lit(200.0), acal / 12.0))
        .otherwise(F.lit(0.0))
    )


# ---------------------------------------------------------------------------
# feature_readiness_daily (ref models/features/feature_readiness_daily.sql)
# ---------------------------------------------------------------------------


def feature_readiness_daily(gold: DataFrame) -> DataFrame:
    """Window feature table: rolling averages, slopes, cumulative TSS,
    CTL/ATL/TSB (rolling-AVG approximation — the SQL-layer EMA
    semantics, W10), ISO day-of-week, sleep debt, HRV velocity, LEAD
    target. Windows run over ALL non-null dates; the readiness filter
    applies last — frame contents must match the reference exactly."""
    base = gold.filter(F.col("date").isNotNull())
    with_tss = base.withColumn("tss", tss_expr())
    w = Window.orderBy("date")

    def roll(agg, col, lo, hi=0):
        fn = getattr(F, agg)
        return fn(col).over(w.rowsBetween(lo, hi))

    feats = with_tss.select(
        "date",
        "readiness_score",
        "sleep_score",
        F.col("deep_sleep_score").cast("double").alias("deep_sleep_score"),
        F.col("rem_sleep_score").cast("double").alias("rem_sleep_score"),
        F.col("total_sleep_score").cast("double").alias("total_sleep_score"),
        F.col("hrv_balance_score").cast("double").alias("hrv_balance_score"),
        F.col("resting_heart_rate_bpm").cast("double").alias("resting_hr"),
        F.col("hrv_ms").cast("double").alias("hrv_ms"),
        F.when(F.col("had_workout") == True, 1).otherwise(0).alias("had_workout"),  # noqa: E712
        "tss",
        roll("avg", "readiness_score", -6).alias("readiness_7d_avg"),
        roll("avg", "sleep_score", -2).alias("sleep_score_3d_avg"),
        ((F.col("readiness_score") - F.lag("readiness_score", 2).over(w)) / 2.0
         ).alias("readiness_3d_slope"),
        roll("sum", "tss", -2).alias("cumulative_tss_3d"),
        roll("sum", "tss", -6).alias("cumulative_tss_7d"),
        roll("avg", "tss", -41).alias("ctl"),
        roll("avg", "tss", -6).alias("atl"),
        (roll("avg", "tss", -41) - roll("avg", "tss", -6)).alias("tsb"),
        day_of_week_iso(safe_date("date")).alias("day_of_week"),
        F.sum(F.when(F.col("had_workout") == True, 1).otherwise(0))  # noqa: E712
        .over(w.rowsBetween(-6, 0))
        .alias("workouts_last_7d"),
        roll("avg", "sleep_score", -14, -1).alias("sleep_baseline_14d"),
        (F.col("sleep_score") - roll("avg", "sleep_score", -14, -1)).alias(
            "sleep_deficit_daily"
        ),
        (F.col("hrv_ms").cast("double")
         - F.lag(F.col("hrv_ms").cast("double"), 2).over(w)).alias(
            "hrv_2day_change"
        ),
        F.lead("readiness_score", 1).over(w).alias("next_day_readiness"),
    )
    derived = feats.select(
        "*",
        F.sum("sleep_deficit_daily").over(w.rowsBetween(-6, 0)).alias(
            "sleep_debt_7d"
        ),
        F.when(F.col("hrv_2day_change") > 10, "rising")
        .when(F.col("hrv_2day_change") < -10, "falling")
        .otherwise("stable")
        .alias("hrv_velocity_flag"),
    )
    return derived.filter(F.col("readiness_score").isNotNull())


# ---------------------------------------------------------------------------
# workout_recovery_windows (ref models/gold/workout_recovery_windows.sql)
# ---------------------------------------------------------------------------


def workout_recovery_windows(gold: DataFrame) -> DataFrame:
    """Per-workout-day recovery trajectory: LEAD readiness/sleep d1-d3,
    intensity banding, deltas, and days-to-recover vs the 7-day
    excluding-current baseline."""
    w = Window.orderBy("date")
    daily = gold.filter(F.col("date").isNotNull()).select(
        "date",
        "readiness_score",
        "sleep_score",
        (
            F.coalesce(F.col("workout_count"), F.lit(0))
            + F.coalesce(F.col("hk_workout_count"), F.lit(0))
        ).alias("total_workouts"),
        (
            F.coalesce(F.col("total_workout_minutes"), F.lit(0))
            + F.coalesce(F.col("hk_workout_minutes"), F.lit(0.0))
        ).alias("total_minutes"),
        (
            F.coalesce(F.col("peloton_calories"), F.lit(0))
            + F.coalesce(F.col("hk_calories"), F.lit(0))
        ).alias("total_calories"),
        "total_output_kj",
        "max_avg_hr",
        F.when(F.col("had_workout") == True, 1).otherwise(0).alias("had_workout"),  # noqa: E712
        F.lead("readiness_score", 1).over(w).alias("readiness_d1"),
        F.lead("readiness_score", 2).over(w).alias("readiness_d2"),
        F.lead("readiness_score", 3).over(w).alias("readiness_d3"),
        F.lead("sleep_score", 1).over(w).alias("sleep_d1"),
        F.lead("sleep_score", 2).over(w).alias("sleep_d2"),
        F.lag("readiness_score", 1).over(w).alias("readiness_prev"),
        F.avg("readiness_score").over(w.rowsBetween(-7, -1)).alias(
            "readiness_7d_baseline"
        ),
    )
    out = F.col("total_output_kj")
    cal = F.col("total_calories")
    mins = F.col("total_minutes")
    wd = daily.filter(
        (F.col("had_workout") == 1) & F.col("readiness_score").isNotNull()
    ).select(
        F.col("date").alias("workout_date"),
        F.col("readiness_score").alias("workout_day_readiness"),
        F.col("sleep_score").alias("workout_day_sleep"),
        "total_workouts",
        "total_minutes",
        "total_calories",
        "total_output_kj",
        "max_avg_hr",
        "readiness_7d_baseline",
        F.when((out >= 300) | (cal >= 400) | (mins >= 60), "high")
        .when((out >= 150) | (cal >= 200) | (mins >= 30), "moderate")
        .otherwise("light")
        .alias("intensity"),
        "readiness_d1", "readiness_d2", "readiness_d3",
        "sleep_d1", "sleep_d2",
        (F.col("readiness_d1") - F.col("readiness_score")).alias(
            "readiness_delta_d1"
        ),
        (F.col("readiness_d2") - F.col("readiness_score")).alias(
            "readiness_delta_d2"
        ),
        (F.col("readiness_d3") - F.col("readiness_score")).alias(
            "readiness_delta_d3"
        ),
        F.when(F.col("readiness_d1") >= F.col("readiness_7d_baseline"), 1)
        .when(F.col("readiness_d2") >= F.col("readiness_7d_baseline"), 2)
        .when(F.col("readiness_d3") >= F.col("readiness_7d_baseline"), 3)
        .alias("days_to_recover"),
    )
    return wd


# ---------------------------------------------------------------------------
# Orchestration
# ---------------------------------------------------------------------------


def load_silver(spark: SparkSession, silver_root: str) -> dict[str, DataFrame]:
    from bio_lakehouse_spark.bio.silver import SILVER_TABLES

    return {
        t: spark.read.parquet(f"{silver_root}/{t}") for t in SILVER_TABLES
    }


def build_gold(
    spark: SparkSession, silver_root: str, gold_root: str | None = None
) -> dict[str, DataFrame]:
    """All three gold tables from silver parquet; optionally persisted
    (the reference's ~45 s daily CTAS refresh becomes three writes)."""
    silver = load_silver(spark, silver_root)
    rollup = gold_daily_rollup(silver)
    if gold_root:
        from bio_lakehouse_spark.sources.sinks import write_partitioned_parquet

        write_partitioned_parquet(rollup, f"{gold_root}/gold_daily_rollup",
                                  ["year", "month"])
        rollup = spark.read.parquet(f"{gold_root}/gold_daily_rollup")
    features = feature_readiness_daily(rollup)
    recovery = workout_recovery_windows(rollup)
    if gold_root:
        # Both windows read the re-read rollup and write their own
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
