"""Bronze→Silver normalizers — the reference's four Glue jobs as Spark
SQL (SURVEY.md §7.2 phase 2).

Each ``normalize_*`` takes (spark, bronze_root) and returns the silver
DataFrame; ``run_silver`` writes all nine tables as (year, month)-
partitioned parquet. Semantics per reference (cited per function).

Each normalizer reads its bronze once (header-grouped Oura CSV, the
activity JSON, the Peloton header reader, ``recursive_csv``); the rest
is one ``spark.sql(text, bronze=df)`` statement, built on the driver
from the read's columns where the reference branches on them. Regex
patterns are bound as string arguments (``{date_re}``), so only
placeholders use braces; fractional literals carry a ``D`` suffix (a
bare ``0.6`` is a DECIMAL). Forward fills are global ``ORDER BY`` the
day (one person's series; at scale add ``PARTITION BY`` the entity).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bio_lakehouse_spark.bio import schemas as S
from bio_lakehouse_spark.functions.banding import map_lookup_sql
from bio_lakehouse_spark.session import fan_out
from bio_lakehouse_spark.sources.csv_source import (
    header_csv_reader,
    header_line,
    read_header_grouped_csv,
    snake_case,
)
from bio_lakehouse_spark.sources.files import latest_file, list_files, recursive_csv
from bio_lakehouse_spark.sources.sinks import write_partitioned_parquet

DAY_RE = r"^\d{4}-\d{2}-\d{2}"


def _ident(name: str) -> str:
    """``name`` as a Spark SQL identifier, its braces doubled for the
    formatter ``spark.sql`` runs over a text with inputs."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def _cast(col: str, sql_type: str) -> str:
    return f"CAST({_ident(col)} AS {sql_type})"


def _select(columns: list[str], exprs: dict[str, str]) -> str:
    """A select list: ``columns`` in order, each one named in ``exprs``
    computed in its place (as ``withColumn`` replaces a column), then
    the rest of ``exprs`` appended."""
    items = [f"{exprs[c]} AS {_ident(c)}" if c in exprs else _ident(c)
             for c in columns]
    items += [f"{e} AS {_ident(c)}" for c, e in exprs.items()
              if c not in columns]
    return ",\n  ".join(items)


def _last_non_null(expr: str, order_by: str) -> str:
    """Global forward fill of ``expr`` ordered by ``order_by`` (W1 —
    ref bio_etl_utils.py:163-189)."""
    return (f"last({expr}, true) OVER (ORDER BY {order_by} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")


def _year_month(date_col: str) -> dict[str, str]:
    """year/month string partition columns from the varchar date
    (ref glue/oura_normalizer.py:289-292)."""
    return {"year": f"substring({date_col}, 1, 4)",
            "month": f"substring({date_col}, 6, 2)"}


# ---------------------------------------------------------------------------
# Oura (ref glue/oura_normalizer.py)
# ---------------------------------------------------------------------------

# The reference's driver-side JSON flatten (oura_normalizer.py:151-220),
# done natively: MET stats from ``met.items`` with array expressions,
# every column aligned to the activity contract as a string.
_MET_ITEMS = "met.items IS NOT NULL AND size(met.items) > 0"
_OURA_ACTIVITY_JSON = (
    "SELECT "
    + ", ".join(_cast(c, "STRING") + f" AS {_ident(c)}"
                for c in S.OURA_ACTIVITY_COLUMNS[:11])
    + f""",
  CASE WHEN {_MET_ITEMS} THEN CAST(met.`interval` AS STRING) ELSE '' END
    AS met_interval,
  CASE WHEN {_MET_ITEMS}
       THEN CAST(round(aggregate(met.items, 0.0D, (acc, x) -> acc + x)
                       / size(met.items), 2) AS STRING)
       ELSE '' END AS met_avg,
  CASE WHEN {_MET_ITEMS} THEN CAST(array_max(met.items) AS STRING) ELSE '' END
    AS met_max,
  CASE WHEN {_MET_ITEMS} THEN CAST(size(met.items) AS STRING) ELSE '' END
    AS met_count
FROM {{json}}"""
)


def _oura(spark: SparkSession, bronze: str, data_type: str,
          exprs: dict[str, str]) -> DataFrame:
    """CSV (header-grouped, sniffed) + JSON union, invalid-day filter,
    dedup on id (ref oura_normalizer.py:223-267), then ``exprs`` and
    the partition columns over the deduplicated rows. The dedup keeps
    each id's first row, as ``dropDuplicates`` does."""
    path = f"{bronze}/oura/{data_type}"
    cols = S.OURA_COLUMNS[data_type]
    frames: dict[str, DataFrame] = {}
    parts = []
    csv_files = list_files(path, "*.csv")
    if csv_files:
        frames["csv"] = read_header_grouped_csv(spark, csv_files)
        have = set(frames["csv"].columns)
        aligned = ", ".join(
            _ident(c) if c in have else f"CAST(NULL AS STRING) AS {_ident(c)}"
            for c in cols
        )
        parts.append(f"SELECT {aligned} FROM {{csv}} WHERE day RLIKE {{day_re}}")
    json_files = list_files(path, "*.json") if data_type == "activity" else []
    if json_files:
        frames["json"] = spark.read.option("multiLine", "true").json(json_files)
        parts.append(_OURA_ACTIVITY_JSON)
    if not parts:
        raise FileNotFoundError(f"no bronze data under {path}")
    firsts = ", ".join(f"first({_ident(c)}) AS {_ident(c)}" for c in cols[1:])
    text = f"""
WITH unioned AS ({" UNION ALL ".join(parts)}
), bronze AS (
  SELECT id, {firsts} FROM unioned GROUP BY id
)
SELECT {_select(cols, {**exprs, **_year_month("day")})}
FROM bronze"""
    return spark.sql(text, day_re=DAY_RE, **frames)


def normalize_oura_readiness(spark: SparkSession, bronze: str) -> DataFrame:
    """Readiness: int score → global forward-fill over day → partition
    cols (ref oura_normalizer.py:270-297)."""
    return _oura(spark, bronze, "readiness",
                 {"score": _last_non_null("CAST(score AS INT)", "day")})


def normalize_oura_sleep(spark: SparkSession, bronze: str) -> DataFrame:
    """Sleep: int score → partition cols (ref oura_normalizer.py:
    300-323), cast to the declared silver schema."""
    return _oura(spark, bronze, "sleep", {
        f.name: _cast(f.name, f.dataType.simpleString())
        for f in S.OURA_DAILY_SLEEP_SILVER_SCHEMA
    })


def normalize_oura_activity(spark: SparkSession, bronze: str) -> DataFrame:
    """Activity: CSV+JSON union → int/double casts → partition cols
    (ref oura_normalizer.py:326-357)."""
    ints = ["score", "active_calories", "steps", "high_activity_time",
            "medium_activity_time", "low_activity_time", "sedentary_time",
            "total_calories", "met_count"]
    return _oura(spark, bronze, "activity", {
        **{c: _cast(c, "INT") for c in ints},
        **{c: _cast(c, "DOUBLE") for c in ("met_avg", "met_max")},
    })


# ---------------------------------------------------------------------------
# Peloton (ref glue/peloton_normalizer.py)
# ---------------------------------------------------------------------------

_PELOTON_CASTS = {
    **{c: "INT" for c in ("total_output", "avg_watts", "avg_cadence_rpm",
                          "calories_burned", "avg_heartrate",
                          "length_minutes")},
    "avg_speed_mph": "DOUBLE", "distance_mi": "DOUBLE",
}
# Output columns computed from the typed row rather than read.
_PELOTON_DERIVED = {
    "workout_date", "workout_time", "avg_resistance_pct",
    "workout_timestamp_utc", "workout_category", "output_per_minute",
    "hr_zone", "total_output_kj",
}
# The output name of a bronze column that is renamed on the way out.
_PELOTON_SOURCE = {"live_on_demand": "live_on-demand"}
# HR zones: 1 <60%, 2 <70%, 3 <80%, 4 <90%, 5 ≥90% of max_hr=200
# (ref bio_etl_utils.py:297-311).
_MAX_HR = 200
_HR_ZONE = (
    "CASE WHEN avg_heartrate IS NULL THEN NULL "
    + " ".join(f"WHEN avg_heartrate < {_MAX_HR * pct!r}D THEN {zone}"
               for zone, pct in enumerate((0.6, 0.7, 0.8, 0.9), 1))
    + " ELSE 5 END"
)
_PELOTON_RE = {
    "date_re": r"^(\d{4}-\d{2}-\d{2})",
    "time_re": r"\d{4}-\d{2}-\d{2}\s+(\d{2}:\d{2}(?::\d{2})?)",
    "resistance_re": r"(\d+)",
}


def normalize_peloton(spark: SparkSession, bronze: str) -> DataFrame:
    """Latest-full-export read → snake_case → timestamp regex parsing →
    casts → resistance % extraction → UTC timestamp build → category
    map → output/min → HR zones → the declared output schema, a
    column the export lacks as NULL (ref peloton_normalizer.py:55-200)."""
    newest = latest_file(f"{bronze}/peloton/workouts", "KnownasNoma_*.csv")
    df = header_csv_reader(spark, header_line(newest)).csv(newest)
    raw = df.columns
    names = [snake_case(c) for c in raw]
    S.validate_required_columns(
        names, ["workout_timestamp", "fitness_discipline", "calories_burned"],
        "peloton_workouts",
    )
    renamed = ", ".join(f"{_ident(r)} AS {_ident(n)}" for r, n in zip(raw, names))
    typed = []
    for f in S.PELOTON_WORKOUTS_SILVER_SCHEMA:
        src = _PELOTON_SOURCE.get(f.name, f.name)
        if src in _PELOTON_DERIVED:
            continue
        if src in _PELOTON_CASTS:
            typed.append(f"{_cast(src, _PELOTON_CASTS[src])} AS {_ident(src)}")
        elif src in names or src == "avg_resistance":
            # avg_resistance_pct reads avg_resistance: an export
            # without it fails, as one without a cast column does.
            typed.append(_ident(src))
        else:
            typed.append(f"CAST(NULL AS {f.dataType.simpleString()}) "
                         f"AS {_ident(src)}")
    out = ",\n  ".join(
        f"{_cast(_PELOTON_SOURCE.get(f.name, f.name), f.dataType.simpleString())}"
        f" AS {_ident(f.name)}"
        for f in S.PELOTON_WORKOUTS_SILVER_SCHEMA
    )
    category = map_lookup_sql("fitness_discipline", S.WORKOUT_CATEGORY_MAP)
    text = f"""
WITH renamed AS (
  SELECT {renamed} FROM {{bronze}}
), typed AS (
  SELECT {", ".join(typed)},
    to_timestamp(regexp_extract(workout_timestamp, {{date_re}}, 1), 'yyyy-MM-dd')
      AS workout_date,
    regexp_extract(workout_timestamp, {{time_re}}, 1) AS workout_time
  FROM renamed
), derived AS (
  SELECT *,
    CAST(regexp_extract(avg_resistance, {{resistance_re}}, 1) AS INT)
      AS avg_resistance_pct,
    CASE WHEN workout_time IS NOT NULL AND workout_time != ''
         THEN to_timestamp(concat_ws(' ', date_format(workout_date, 'yyyy-MM-dd'),
                                     workout_time), 'yyyy-MM-dd HH:mm')
         ELSE workout_date END AS workout_timestamp_utc,
    {category} AS workout_category,
    CASE WHEN length_minutes IS NOT NULL AND length_minutes > 0
         THEN round(total_output / length_minutes, 2) END AS output_per_minute,
    {_HR_ZONE} AS hr_zone,
    CAST(total_output AS DOUBLE) AS total_output_kj,
    date_format(workout_date, 'yyyy') AS year,
    date_format(workout_date, 'MM') AS month
  FROM typed
)
SELECT {out},
  year, month
FROM derived"""
    return spark.sql(text, bronze=df, **_PELOTON_RE)


# ---------------------------------------------------------------------------
# HealthKit (ref glue/healthkit_normalizer.py)
# ---------------------------------------------------------------------------


def _healthkit(spark: SparkSession, bronze: str, name: str,
               required: list[str],
               exprs: dict[str, str] | Callable[[list[str]], dict[str, str]],
               where: str = "") -> DataFrame:
    """Recursive CSV read, partition inference off, plus a stable
    per-row ``reading_seq`` captured at scan time, then ``exprs`` and
    the partition columns. The reference's last-of-day semantics
    depend on input file order (LAST_VALUE over an ORDER BY-the-
    partition-key window — gold_daily_rollup.sql:32-51); materializing
    the sequence in the first SELECT over the scan makes that order an
    explicit, portable column instead of an engine accident. ``exprs``
    may be a function of the read's columns."""
    df = recursive_csv(spark, f"{bronze}/healthkit/{name}")
    cols = df.columns
    seq = {"reading_seq": "monotonically_increasing_id()"}
    S.validate_required_columns([*cols, *seq], required, f"healthkit_{name}")
    if callable(exprs):
        exprs = exprs(cols)
    read = [*cols, *(c for c in seq if c not in cols)]
    text = f"""
WITH bronze AS (
  SELECT {_select(cols, seq)} FROM {{bronze}}
)
SELECT {_select(read, {**exprs, **_year_month("date")})}
FROM bronze {where}"""
    return spark.sql(text, bronze=df)


def normalize_healthkit_vitals(spark: SparkSession, bronze: str) -> DataFrame:
    return _healthkit(spark, bronze, "daily_vitals",
                      ["date", "resting_heart_rate_bpm"], {
        **{c: _cast(c, "DOUBLE") for c in (
            "resting_heart_rate_bpm", "hrv_ms", "blood_oxygen_pct",
            "respiratory_rate")},
        "vo2_max": _last_non_null(_cast("vo2_max", "DOUBLE"), "date"),
    })


def normalize_healthkit_workouts(spark: SparkSession, bronze: str) -> DataFrame:
    """Peloton-sourced rows dropped: Peloton's own export is the
    richer record of the same workout."""
    return _healthkit(
        spark, bronze, "workouts",
        ["date", "workout_type", "duration_minutes"],
        {
            **{c: _cast(c, "DOUBLE") for c in ("duration_minutes", "distance_mi")},
            **{c: _cast(c, "INT") for c in ("calories_burned", "avg_heart_rate")},
            "workout_category": map_lookup_sql(
                "workout_type", S.HEALTHKIT_WORKOUT_CATEGORY_MAP
            ),
        },
        where="WHERE NOT contains(lower(source_app), 'peloton')",
    )


def normalize_healthkit_body(spark: SparkSession, bronze: str) -> DataFrame:
    """Double casts where the export has the column; weight, body fat
    and lean mass forward-filled over the date."""

    def exprs(cols: list[str]) -> dict[str, str]:
        typed = {c: _cast(c, "DOUBLE") for c in (
            "weight_lbs", "body_fat_pct", "bmi", "lean_body_mass_lbs")
            if c in cols}
        for c in ("weight_lbs", "body_fat_pct", "lean_body_mass_lbs"):
            typed[c] = _last_non_null(typed.get(c, _ident(c)), "date")
        return typed

    return _healthkit(spark, bronze, "body", ["date", "weight_lbs"], exprs)


def normalize_healthkit_mindfulness(spark: SparkSession, bronze: str) -> DataFrame:
    return _healthkit(spark, bronze, "mindfulness",
                      ["date", "duration_minutes"], {
        "duration_minutes": _cast("duration_minutes", "DOUBLE"),
        "session_count": _cast("session_count", "INT"),
    })


# ---------------------------------------------------------------------------
# MyFitnessPal (ref glue/mfp_normalizer.py)
# ---------------------------------------------------------------------------


def _macro_pct(col: str, kcal_per_g: str) -> str:
    return (f"CASE WHEN calories IS NOT NULL AND calories > 0 "
            f"THEN round({col} * {kcal_per_g} / calories * 100, 1) END")


def normalize_mfp(spark: SparkSession, bronze: str) -> DataFrame:
    """Meal rows → snake_case + unit-suffix renames → double casts →
    (date, meal) dedup across overlapping exports, keeping each pair's
    first row → daily SUM rollup + meal_count + meals_logged → macro
    percentage columns (ref mfp_normalizer.py:67-166)."""
    df = recursive_csv(spark, f"{bronze}/mfp/nutrition")
    raw = df.columns
    names = [S.MFP_COLUMN_RENAMES.get(snake_case(c), snake_case(c)) for c in raw]
    numeric = [c for c in S.MFP_NUMERIC_COLS if c in names]
    renamed = ", ".join(
        f"{_cast(r, 'DOUBLE') if n in numeric else _ident(r)} AS {_ident(n)}"
        for r, n in zip(raw, names)
    )
    q = [_ident(c) for c in numeric]
    text = f"""
WITH bronze AS (
  SELECT {renamed} FROM {{bronze}}
), meals AS (
  SELECT date, meal, {", ".join(f"first({c}) AS {c}" for c in q)}
  FROM bronze GROUP BY date, meal
), daily AS (
  -- Meals sorted before joining so the output is deterministic
  -- (SURVEY §7.4.5 — the reference's collect_set order is not).
  SELECT date, {", ".join(f"sum({c}) AS {c}" for c in q)},
    count(1) AS meal_count, array_sort(collect_set(meal)) AS meals
  FROM meals GROUP BY date
)
SELECT date, {", ".join(q)}, meal_count,
  {_macro_pct("protein_g", "4.0D")} AS protein_pct,
  {_macro_pct("carbohydrates_g", "4.0D")} AS carb_pct,
  {_macro_pct("fat_g", "9.0D")} AS fat_pct,
  array_join(meals, ',') AS meals_logged,
  {", ".join(f"{e} AS {c}" for c, e in _year_month("date").items())}
FROM daily"""
    return spark.sql(text, bronze=df)


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
