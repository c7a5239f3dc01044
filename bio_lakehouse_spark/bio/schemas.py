"""Declared schemas + column contracts for the bio pipeline.

Parity with the reference's explicit-StructType discipline
(ref glue/bio_etl_utils.py:26-127): ``inferSchema`` is never used;
every silver table has a pinned column list so downstream consumers
and the catalog never churn. Bronze column orders come from the
ingestion contract (ref lambda/oura_api_ingest/csv_transformer.py).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _struct(fields: list[tuple[str, object]]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# Bronze column orders (the Lambda CSV contract — ref
# lambda/oura_api_ingest/csv_transformer.py:12-36, mirrored in
# glue/oura_normalizer.py:50-74).
OURA_READINESS_COLUMNS = [
    "id", "day", "score", "temperature_deviation",
    "temperature_trend_deviation", "timestamp",
    "contributors_activity_balance", "contributors_body_temperature",
    "contributors_hrv_balance", "contributors_previous_day_activity",
    "contributors_previous_night", "contributors_recovery_index",
    "contributors_resting_heart_rate", "contributors_sleep_balance",
    "contributors_sleep_regularity",
]

OURA_SLEEP_COLUMNS = [
    "id", "day", "score", "timestamp",
    "contributors_deep_sleep", "contributors_efficiency",
    "contributors_latency", "contributors_rem_sleep",
    "contributors_restfulness", "contributors_timing",
    "contributors_total_sleep",
]

OURA_ACTIVITY_COLUMNS = [
    "id", "day", "score", "timestamp",
    "active_calories", "steps",
    "high_activity_time", "medium_activity_time",
    "low_activity_time", "sedentary_time", "total_calories",
    "met_interval", "met_avg", "met_max", "met_count",
]

OURA_COLUMNS = {
    "readiness": OURA_READINESS_COLUMNS,
    "sleep": OURA_SLEEP_COLUMNS,
    "activity": OURA_ACTIVITY_COLUMNS,
}

# Silver typed schemas (ref glue/bio_etl_utils.py:26-127).
OURA_READINESS_SCHEMA = _struct(
    [("id", StringType()), ("day", StringType()), ("score", IntegerType()),
     ("temperature_deviation", DoubleType()),
     ("temperature_trend_deviation", DoubleType()),
     ("timestamp", TimestampType())]
    + [(c, IntegerType()) for c in OURA_READINESS_COLUMNS[6:]]
)

OURA_SLEEP_SCHEMA = _struct(
    [("id", StringType()), ("day", StringType()), ("score", IntegerType()),
     ("timestamp", TimestampType())]
    + [(c, IntegerType()) for c in OURA_SLEEP_COLUMNS[4:]]
)

HEALTHKIT_DAILY_VITALS_SCHEMA = _struct(
    [("date", StringType())]
    + [(c, DoubleType()) for c in (
        "resting_heart_rate_bpm", "hrv_ms", "vo2_max",
        "blood_oxygen_pct", "respiratory_rate")]
)

HEALTHKIT_WORKOUTS_SCHEMA = _struct(
    [("date", StringType()), ("start_time", StringType()),
     ("end_time", StringType()), ("workout_type", StringType()),
     ("duration_minutes", DoubleType()), ("calories_burned", IntegerType()),
     ("avg_heart_rate", IntegerType()), ("distance_mi", DoubleType()),
     ("source_app", StringType())]
)

HEALTHKIT_BODY_SCHEMA = _struct(
    [("date", StringType()), ("weight_lbs", DoubleType()),
     ("body_fat_pct", DoubleType()), ("bmi", DoubleType()),
     ("lean_body_mass_lbs", DoubleType()), ("device_name", StringType())]
)

HEALTHKIT_MINDFULNESS_SCHEMA = _struct(
    [("date", StringType()), ("duration_minutes", DoubleType()),
     ("session_count", IntegerType())]
)

# Written silver schemas of the two tables the weekly report reads
# straight from silver. Each normalizer's final SELECT casts to its
# schema, and the report reads the parquet with it instead of
# inferring one from a footer. Oura CSV values stay strings except the
# score; the partition columns (year, month) are not part of either.
OURA_DAILY_SLEEP_SILVER_SCHEMA = _struct(
    [(c, IntegerType() if c == "score" else StringType())
     for c in OURA_SLEEP_COLUMNS]
)

PELOTON_WORKOUTS_SILVER_SCHEMA = _struct(
    [("workout_timestamp", StringType()), ("live_on_demand", StringType()),
     ("instructor_name", StringType()), ("length_minutes", IntegerType()),
     ("fitness_discipline", StringType()), ("type", StringType()),
     ("title", StringType()), ("class_timestamp", StringType()),
     ("total_output", IntegerType()), ("avg_watts", IntegerType()),
     ("avg_resistance", StringType()), ("avg_cadence_rpm", IntegerType()),
     ("avg_speed_mph", DoubleType()), ("distance_mi", DoubleType()),
     ("calories_burned", IntegerType()), ("avg_heartrate", IntegerType()),
     ("avg_incline", StringType()), ("avg_pace_min_mi", StringType()),
     ("workout_date", TimestampType()), ("workout_time", StringType()),
     ("avg_resistance_pct", IntegerType()),
     ("workout_timestamp_utc", TimestampType()),
     ("workout_category", StringType()), ("output_per_minute", DoubleType()),
     ("hr_zone", IntegerType()), ("total_output_kj", DoubleType())]
)

# Category maps (ref glue/bio_etl_utils.py:224-259).
WORKOUT_CATEGORY_MAP = {
    "cycling": "cardio_high", "running": "cardio_high",
    "bootcamp": "cardio_high", "rowing": "cardio_high",
    "bike_bootcamp": "cardio_high", "circuit": "cardio_high",
    "strength": "strength_training", "stretching": "recovery",
    "yoga": "recovery", "meditation": "recovery",
    "walking": "cardio_low", "cardio": "cardio_high",
    "outdoor": "cardio_high",
}

HEALTHKIT_WORKOUT_CATEGORY_MAP = {
    "hiking": "cardio_high", "running": "cardio_high",
    "swimming": "cardio_high", "cycling": "cardio_high",
    "elliptical": "cardio_high", "stair_climbing": "cardio_high",
    "high_intensity_interval_training": "cardio_high",
    "cross_training": "cardio_high",
    "functional_strength_training": "strength_training",
    "traditional_strength_training": "strength_training",
    "core_training": "strength_training",
    "yoga": "recovery", "flexibility": "recovery",
    "mind_and_body": "recovery", "pilates": "recovery",
    "tai_chi": "recovery",
    "walking": "cardio_low", "cool_down": "cardio_low",
}

# MFP unit-suffix renames + numeric aggregate columns
# (ref glue/mfp_normalizer.py:48-64).
MFP_COLUMN_RENAMES = {
    "saturated_fat": "saturated_fat_g",
    "polyunsaturated_fat": "polyunsaturated_fat_g",
    "monounsaturated_fat": "monounsaturated_fat_g",
    "trans_fat": "trans_fat_g",
    "cholesterol": "cholesterol_mg",
    "potassium": "potassium_mg",
    "fiber": "fiber_g",
    "sugar": "sugar_g",
}

MFP_NUMERIC_COLS = [
    "calories", "fat_g", "saturated_fat_g", "polyunsaturated_fat_g",
    "monounsaturated_fat_g", "trans_fat_g", "cholesterol_mg", "sodium_mg",
    "potassium_mg", "carbohydrates_g", "fiber_g", "sugar_g", "protein_g",
]


def validate_required_columns(
    columns: list[str], required: list[str], dataset: str
) -> None:
    """P10: required-column pre-flight (ref bio_etl_utils.py:197-217) —
    raise with the full context instead of failing mid-job."""
    missing = [c for c in required if c not in set(columns)]
    if missing:
        raise ValueError(
            f"Schema validation failed for {dataset}. Missing columns: "
            f"{missing}. Available columns: {sorted(columns)}"
        )
