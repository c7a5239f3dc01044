"""Bronze→Silver normalizers — the reference's four Glue jobs as
DataFrame transforms (SURVEY.md §7.2 phase 2).

Each ``normalize_*`` takes (spark, bronze_root) and returns the silver
DataFrame; ``run_silver`` writes all nine tables as (year, month)-
partitioned parquet. Semantics per reference (cited per function);
architecture is Spark-first: JSON flattening is a native
``spark.read.json`` + struct/array expressions (no driver-side row
loops), the S3 listing passes become local listings, and everything
else is already DataFrame code in the reference.
"""

from __future__ import annotations

from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bio_lakehouse_spark.bio import schemas as S
from bio_lakehouse_spark.functions.banding import map_lookup
from bio_lakehouse_spark.operators.windows import forward_fill
from bio_lakehouse_spark.session import fan_out
from bio_lakehouse_spark.sources.csv_source import (
    header_csv_reader,
    header_line,
    read_header_grouped_csv,
    snake_case,
)
from bio_lakehouse_spark.sources.files import latest_file, list_files, recursive_csv
from bio_lakehouse_spark.sources.sinks import write_partitioned_parquet


def _partition_cols(df: DataFrame, date_col: str) -> DataFrame:
    """year/month string partition columns from the varchar date
    (ref glue/oura_normalizer.py:289-292)."""
    return df.withColumn("year", F.substring(date_col, 1, 4)).withColumn(
        "month", F.substring(date_col, 6, 2)
    )


def _ffill(df: DataFrame, order_by: str, cols: list[str]) -> DataFrame:
    """Global forward-fill of ``cols`` ordered by ``order_by`` (W1 —
    ref bio_etl_utils.py:163-189; single-user series, so no partition
    key; at scale pass the entity column through ``forward_fill``'s
    partition_by)."""
    for c in cols:
        df = df.withColumn(c, forward_fill(c, order_by))
    return df


# ---------------------------------------------------------------------------
# Oura (ref glue/oura_normalizer.py)
# ---------------------------------------------------------------------------


def _read_oura_json_activity(spark: SparkSession, path: str) -> DataFrame | None:
    """S3-equivalent of the reference's driver-side JSON flatten
    (oura_normalizer.py:151-220), done natively: read the JSON array,
    compute MET stats from ``met.items`` with array expressions, align
    to the activity column contract as strings."""
    files = list_files(path, "*.json")
    if not files:
        return None
    df = spark.read.option("multiLine", "true").json(files)
    items = F.col("met.items")
    has_items = items.isNotNull() & (F.size(items) > 0)
    met_avg = F.round(
        F.aggregate(items, F.lit(0.0), lambda a, x: a + x) / F.size(items), 2
    )
    df = df.select(
        *[F.col(c).cast("string").alias(c) for c in (
            "id", "day", "score", "timestamp", "active_calories", "steps",
            "high_activity_time", "medium_activity_time",
            "low_activity_time", "sedentary_time", "total_calories")],
        F.when(has_items, F.col("met.interval").cast("string"))
        .otherwise("").alias("met_interval"),
        F.when(has_items, met_avg.cast("string")).otherwise("").alias("met_avg"),
        F.when(has_items, F.array_max(items).cast("string"))
        .otherwise("").alias("met_max"),
        F.when(has_items, F.size(items).cast("string"))
        .otherwise("").alias("met_count"),
    )
    return df.select(S.OURA_ACTIVITY_COLUMNS)


def _read_oura_bronze(
    spark: SparkSession, path: str, data_type: str
) -> DataFrame:
    """CSV (header-grouped, sniffed) + JSON union, invalid-day filter,
    dedup on id (ref oura_normalizer.py:223-267)."""
    target_cols = S.OURA_COLUMNS[data_type]
    csv_files = list_files(path, "*.csv")
    csv_df = read_header_grouped_csv(spark, csv_files) if csv_files else None
    if csv_df is not None:
        csv_df = csv_df.filter(F.col("day").rlike(r"^\d{4}-\d{2}-\d{2}"))
        for c in target_cols:
            if c not in csv_df.columns:
                csv_df = csv_df.withColumn(c, F.lit(None).cast("string"))
        csv_df = csv_df.select(target_cols)
    json_df = (
        _read_oura_json_activity(spark, path) if data_type == "activity" else None
    )
    if csv_df is not None and json_df is not None:
        combined = csv_df.unionByName(json_df)
    elif csv_df is not None:
        combined = csv_df
    elif json_df is not None:
        combined = json_df
    else:
        raise FileNotFoundError(f"no bronze data under {path}")
    return combined.dropDuplicates(["id"])


def normalize_oura_readiness(spark: SparkSession, bronze: str) -> DataFrame:
    """Readiness: validate → int score → global forward-fill over day →
    partition cols (ref oura_normalizer.py:270-297)."""
    df = _read_oura_bronze(spark, f"{bronze}/oura/readiness", "readiness")
    S.validate_required_columns(
        df.columns, ["id", "day", "score", "timestamp"], "oura_readiness"
    )
    df = df.withColumn("score", F.col("score").cast("integer"))
    df = _ffill(df, "day", ["score"])
    return _partition_cols(df, "day")


def normalize_oura_sleep(spark: SparkSession, bronze: str) -> DataFrame:
    """Sleep: validate → int score → partition cols
    (ref oura_normalizer.py:300-323)."""
    df = _read_oura_bronze(spark, f"{bronze}/oura/sleep", "sleep")
    S.validate_required_columns(
        df.columns, ["id", "day", "score", "timestamp"], "oura_sleep"
    )
    df = df.withColumn("score", F.col("score").cast("integer"))
    return _partition_cols(df, "day")


def normalize_oura_activity(spark: SparkSession, bronze: str) -> DataFrame:
    """Activity: CSV+JSON union → int/double casts → partition cols
    (ref oura_normalizer.py:326-357)."""
    df = _read_oura_bronze(spark, f"{bronze}/oura/activity", "activity")
    S.validate_required_columns(
        df.columns, ["id", "day", "score", "active_calories", "steps"],
        "oura_activity",
    )
    for c in ["score", "active_calories", "steps", "high_activity_time",
              "medium_activity_time", "low_activity_time", "sedentary_time",
              "total_calories", "met_count"]:
        df = df.withColumn(c, F.col(c).cast("integer"))
    for c in ["met_avg", "met_max"]:
        df = df.withColumn(c, F.col(c).cast("double"))
    return _partition_cols(df, "day")


# ---------------------------------------------------------------------------
# Peloton (ref glue/peloton_normalizer.py)
# ---------------------------------------------------------------------------


def normalize_peloton(spark: SparkSession, bronze: str) -> DataFrame:
    """Latest-full-export read → snake_case → timestamp regex parsing →
    casts → resistance % extraction → UTC timestamp build → category
    map → output/min → HR zones → pinned output schema
    (ref peloton_normalizer.py:55-200)."""
    newest = latest_file(f"{bronze}/peloton/workouts", "KnownasNoma_*.csv")
    df = header_csv_reader(spark, header_line(newest)).csv(newest)
    df = df.toDF(*[snake_case(c) for c in df.columns])
    S.validate_required_columns(
        df.columns,
        ["workout_timestamp", "fitness_discipline", "calories_burned"],
        "peloton_workouts",
    )
    df = df.withColumn(
        "workout_date",
        F.to_timestamp(
            F.regexp_extract("workout_timestamp", r"^(\d{4}-\d{2}-\d{2})", 1),
            "yyyy-MM-dd",
        ),
    ).withColumn(
        "workout_time",
        F.regexp_extract(
            "workout_timestamp", r"\d{4}-\d{2}-\d{2}\s+(\d{2}:\d{2}(?::\d{2})?)", 1
        ),
    )
    for c in ["total_output", "avg_watts", "avg_cadence_rpm",
              "calories_burned", "avg_heartrate", "length_minutes"]:
        df = df.withColumn(c, F.col(c).cast("integer"))
    for c in ["avg_speed_mph", "distance_mi"]:
        df = df.withColumn(c, F.col(c).cast("double"))
    df = df.withColumn(
        "avg_resistance_pct",
        F.regexp_extract(F.col("avg_resistance"), r"(\d+)", 1).cast("integer"),
    )
    df = df.withColumn(
        "workout_timestamp_utc",
        F.when(
            F.col("workout_time").isNotNull() & (F.col("workout_time") != ""),
            F.to_timestamp(
                F.concat_ws(
                    " ",
                    F.date_format("workout_date", "yyyy-MM-dd"),
                    F.col("workout_time"),
                ),
                "yyyy-MM-dd HH:mm",
            ),
        ).otherwise(F.col("workout_date")),
    )
    df = df.withColumn(
        "workout_category",
        map_lookup("fitness_discipline", S.WORKOUT_CATEGORY_MAP),
    )
    df = df.withColumn(
        "output_per_minute",
        F.when(
            F.col("length_minutes").isNotNull() & (F.col("length_minutes") > 0),
            F.round(F.col("total_output") / F.col("length_minutes"), 2),
        ),
    )
    # HR zones: 1 <60%, 2 <70%, 3 <80%, 4 <90%, 5 ≥90% of max_hr=200
    # (ref bio_etl_utils.py:297-311).
    hr, max_hr = F.col("avg_heartrate"), 200
    df = df.withColumn(
        "hr_zone",
        F.when(hr.isNull(), None)
        .when(hr < max_hr * 0.6, 1)
        .when(hr < max_hr * 0.7, 2)
        .when(hr < max_hr * 0.8, 3)
        .when(hr < max_hr * 0.9, 4)
        .otherwise(5),
    )
    df = df.withColumn("total_output_kj", F.col("total_output").cast("double"))
    df = df.withColumn("year", F.date_format("workout_date", "yyyy")).withColumn(
        "month", F.date_format("workout_date", "MM")
    )
    pinned = [
        ("workout_timestamp", "string"), ("live_on-demand", "string"),
        ("instructor_name", "string"), ("length_minutes", "int"),
        ("fitness_discipline", "string"), ("type", "string"),
        ("title", "string"), ("class_timestamp", "string"),
        ("total_output", "int"), ("avg_watts", "int"),
        ("avg_resistance", "string"), ("avg_cadence_rpm", "int"),
        ("avg_speed_mph", "double"), ("distance_mi", "double"),
        ("calories_burned", "int"), ("avg_heartrate", "int"),
        ("avg_incline", "string"), ("avg_pace_min_mi", "string"),
        ("workout_date", "timestamp"), ("workout_time", "string"),
        ("avg_resistance_pct", "int"), ("workout_timestamp_utc", "timestamp"),
        ("workout_category", "string"), ("output_per_minute", "double"),
        ("hr_zone", "int"), ("total_output_kj", "double"),
    ]
    for c, t in pinned:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    out_cols = [
        F.col(c).cast(t).alias(c.replace("live_on-demand", "live_on_demand"))
        for c, t in pinned
    ]
    return df.select(*out_cols, "year", "month")


# ---------------------------------------------------------------------------
# HealthKit (ref glue/healthkit_normalizer.py)
# ---------------------------------------------------------------------------


def _hk_read(spark: SparkSession, path: str) -> DataFrame:
    """Recursive CSV read, partition inference off, plus a stable
    per-row ``reading_seq`` captured at scan time. The reference's
    last-of-day semantics depend on input file order (LAST_VALUE over
    an ORDER BY-the-partition-key window — gold_daily_rollup.sql:32-51);
    materializing the sequence makes that order an explicit, portable
    column instead of an engine accident."""
    df = recursive_csv(spark, path)
    return df.withColumn("reading_seq", F.monotonically_increasing_id())


def normalize_healthkit_vitals(spark: SparkSession, bronze: str) -> DataFrame:
    df = _hk_read(spark, f"{bronze}/healthkit/daily_vitals")
    S.validate_required_columns(
        df.columns, ["date", "resting_heart_rate_bpm"], "healthkit_daily_vitals"
    )
    for c in ["resting_heart_rate_bpm", "hrv_ms", "vo2_max",
              "blood_oxygen_pct", "respiratory_rate"]:
        df = df.withColumn(c, F.col(c).cast("double"))
    df = _ffill(df, "date", ["vo2_max"])
    return _partition_cols(df, "date")


def normalize_healthkit_workouts(spark: SparkSession, bronze: str) -> DataFrame:
    df = _hk_read(spark, f"{bronze}/healthkit/workouts")
    S.validate_required_columns(
        df.columns, ["date", "workout_type", "duration_minutes"],
        "healthkit_workouts",
    )
    for c in ["duration_minutes", "distance_mi"]:
        df = df.withColumn(c, F.col(c).cast("double"))
    for c in ["calories_burned", "avg_heart_rate"]:
        df = df.withColumn(c, F.col(c).cast("integer"))
    df = df.filter(~F.lower(F.col("source_app")).contains("peloton"))
    df = df.withColumn(
        "workout_category",
        map_lookup("workout_type", S.HEALTHKIT_WORKOUT_CATEGORY_MAP),
    )
    return _partition_cols(df, "date")


def normalize_healthkit_body(spark: SparkSession, bronze: str) -> DataFrame:
    df = _hk_read(spark, f"{bronze}/healthkit/body")
    S.validate_required_columns(df.columns, ["date", "weight_lbs"], "healthkit_body")
    for c in ["weight_lbs", "body_fat_pct", "bmi", "lean_body_mass_lbs"]:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("double"))
    df = _ffill(df, "date", ["weight_lbs", "body_fat_pct", "lean_body_mass_lbs"])
    return _partition_cols(df, "date")


def normalize_healthkit_mindfulness(spark: SparkSession, bronze: str) -> DataFrame:
    df = _hk_read(spark, f"{bronze}/healthkit/mindfulness")
    S.validate_required_columns(
        df.columns, ["date", "duration_minutes"], "healthkit_mindfulness"
    )
    df = df.withColumn(
        "duration_minutes", F.col("duration_minutes").cast("double")
    ).withColumn("session_count", F.col("session_count").cast("integer"))
    return _partition_cols(df, "date")


# ---------------------------------------------------------------------------
# MyFitnessPal (ref glue/mfp_normalizer.py)
# ---------------------------------------------------------------------------


def normalize_mfp(spark: SparkSession, bronze: str) -> DataFrame:
    """Meal rows → snake_case + unit-suffix renames → double casts →
    (date, meal) dedup across overlapping exports → daily SUM rollup +
    meal_count + meals_logged → macro percentage columns
    (ref mfp_normalizer.py:67-166)."""
    df = recursive_csv(spark, f"{bronze}/mfp/nutrition")
    df = df.toDF(*[snake_case(c) for c in df.columns])
    for old, new in S.MFP_COLUMN_RENAMES.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    for c in S.MFP_NUMERIC_COLS:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("double"))
    df = df.dropDuplicates(["date", "meal"])
    daily = df.groupBy("date").agg(
        *[F.sum(c).alias(c) for c in S.MFP_NUMERIC_COLS if c in df.columns],
        F.count(F.lit(1)).alias("meal_count"),
        # Sorted before joining so output is deterministic
        # (SURVEY §7.4.5 — the reference's collect_set order is not).
        F.array_sort(F.collect_set("meal")).alias("_meals"),
    )
    calories_ok = F.col("calories").isNotNull() & (F.col("calories") > 0)
    daily = (
        daily.withColumn(
            "protein_pct",
            F.when(calories_ok, F.round(F.col("protein_g") * 4.0 / F.col("calories") * 100, 1)),
        )
        .withColumn(
            "carb_pct",
            F.when(calories_ok, F.round(F.col("carbohydrates_g") * 4.0 / F.col("calories") * 100, 1)),
        )
        .withColumn(
            "fat_pct",
            F.when(calories_ok, F.round(F.col("fat_g") * 9.0 / F.col("calories") * 100, 1)),
        )
        .withColumn("meals_logged", F.array_join("_meals", ","))
        .drop("_meals")
    )
    return _partition_cols(daily, "date")


# ---------------------------------------------------------------------------
# Orchestration (ref run_daily_ingestion.sh steps 1-12 collapsed)
# ---------------------------------------------------------------------------

SILVER_TABLES = {
    "oura_daily_readiness": normalize_oura_readiness,
    "oura_daily_sleep": normalize_oura_sleep,
    "oura_daily_activity": normalize_oura_activity,
    "peloton_workouts": normalize_peloton,
    "healthkit_daily_vitals": normalize_healthkit_vitals,
    "healthkit_workouts": normalize_healthkit_workouts,
    "healthkit_body": normalize_healthkit_body,
    "healthkit_mindfulness": normalize_healthkit_mindfulness,
    "mfp_daily_nutrition": normalize_mfp,
}


def run_silver(
    spark: SparkSession, bronze_root: str, silver_root: str
) -> dict[str, StructType]:
    """All nine normalizers → partitioned parquet under
    ``silver_root/<table>``. One Spark app replaces the
    Lambda/Glue/crawler chain (SURVEY §3.2): each table is read and
    written by its own jobs into its own directory, so the nine
    normalize-and-write calls run concurrently through ``fan_out``.
    The first failing table, in ``SILVER_TABLES`` order, raises once
    all nine have finished.

    Returns each table's written data schema, in ``SILVER_TABLES``
    order — the schema a reader passes instead of inferring it, as the
    reference's crawler records it in the Glue catalog."""

    def normalize_and_write(table: str, fn) -> StructType:
        path = str(Path(silver_root) / table)
        return write_partitioned_parquet(
            fn(spark, bronze_root), path, ["year", "month"]
        )

    schemas = fan_out([
        partial(normalize_and_write, table, fn)
        for table, fn in SILVER_TABLES.items()
    ])
    return dict(zip(SILVER_TABLES, schemas))
