"""Scalar-function queries (SURVEY.md §2.8 F1-F11, §2.2 P1-P10).

Regex extraction, tolerant date parsing, dialect-shifted date parts,
literal-map lookups, CASE banding, guarded ratios, JSON parsing, array
ops — each the generic form of a reference idiom, all pure built-in
Column expressions (no UDFs, §2.11 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bio_lakehouse_spark.functions.banding import case_banding, map_lookup_sql
from bio_lakehouse_spark.functions.dates import (
    day_of_week_iso,
    safe_date,
    week_start,
)
from bio_lakehouse_spark.suite.registry import load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731


@register(
    "regexp_extract_json",
    survey=("F1", "F10", "P5"),
    oracle="""
SELECT event_id,
       CAST(REGEXP_EXTRACT(props, '"k": (\\d+)', 1) AS INTEGER) AS k_regex,
       CAST(JSON_EXTRACT(props, '$.k') AS INTEGER) AS k_json,
       CASE WHEN REGEXP_MATCHES(props, '^\\{"k": \\d+\\}$') THEN 1 ELSE 0 END AS valid_shape
FROM events
""",
)
def regexp_extract_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction + JSON parse of an embedded payload (F1/F10 —
    peloton resistance `(\\d+)` extraction, `parse_json_column`) and a
    validity-regex predicate (P5 — the `^\\d{4}-\\d{2}-\\d{2}` day
    filter idiom)."""
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json(
        F.col("props"), T.StructType([T.StructField("k", T.IntegerType())])
    )
    return ev.select(
        "event_id",
        # nullif before the cast (r12 degenerate sweep): a props
        # payload without the key makes regexp_extract return '' and
        # ANSI CAST(''), aborting the job — a missing field is the
        # empty-cell case (NULL), not garbage; a NON-empty non-digit
        # match still fails loud.
        F.nullif(
            F.regexp_extract("props", r'"k": (\d+)', 1), F.lit("")
        )
        .cast("int")
        .alias("k_regex"),
        parsed["k"].alias("k_json"),
        F.when(F.col("props").rlike(r'^\{"k": \d+\}$'), 1)
        .otherwise(0)
        .alias("valid_shape"),
    )


@register(
    "date_parts_dialect",
    survey=("F3", "F2"),
    oracle="""
SELECT event_id, CAST(ts AS DATE) AS date,
       CAST(EXTRACT(year FROM ts) AS INTEGER) AS year,
       CAST(EXTRACT(month FROM ts) AS INTEGER) AS month,
       CAST(ISODOW(ts) AS INTEGER) AS dow_iso,
       CAST(DATE_TRUNC('week', ts) AS DATE) AS week_start,
       STRFTIME(ts, '%Y-%m') AS year_month,
       CAST(ts + INTERVAL 1 DAY AS DATE) AS next_date
FROM events
""",
)
def date_parts_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date parts incl. the two Presto→Spark dialect traps (F3,
    SURVEY.md §7.4.4): ISO day-of-week (Presto day_of_week Mon=1 vs
    Spark dayofweek Sun=1 — shifted in `day_of_week_iso`) and
    Monday-based week truncation; plus date_add and date_format."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("date"),
        F.year("ts").cast("int").alias("year"),
        F.month("ts").cast("int").alias("month"),
        day_of_week_iso("ts").alias("dow_iso"),
        week_start("ts").alias("week_start"),
        F.date_format("ts", "yyyy-MM").alias("year_month"),
        F.date_add(F.to_date("ts"), 1).alias("next_date"),
    )


@register(
    "safe_cast_mixed_dates",
    survey=("F4", "P1", "P4"),
    oracle="""
SELECT event_id, raw_date,
       COALESCE(
         CASE WHEN REGEXP_MATCHES(raw_date, '^\\d{4}-\\d{2}-\\d{2}$')
              THEN CAST(raw_date AS DATE) END,
         CASE WHEN REGEXP_MATCHES(raw_date, '^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$')
              THEN CAST(TRY_CAST(raw_date AS TIMESTAMP) AS DATE) END
       ) AS safe_date
FROM (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN STRFTIME(ts, '%Y-%m-%d')
              WHEN event_id % 3 = 1 THEN STRFTIME(ts, '%Y-%m-%d %H:%M:%S')
              ELSE 'not-a-date' END AS raw_date
  FROM events
)
""",
)
def safe_cast_mixed_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's #1 hard part (SURVEY.md §7.4.1): varchar date
    columns in two formats + garbage, parsed with the tolerant
    null-on-failure COALESCE(TRY(...)) idiom (F4 —
    nl_to_sql_system.txt:8-11). Mixed-format column synthesized from
    ts by event_id residue; `safe_date` must recover exactly the
    parseable rows and NULL the rest."""
    ev = load(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy-MM-dd"))
        .when(
            F.col("event_id") % 3 == 1,
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        )
        .otherwise(F.lit("not-a-date"))
    )
    return ev.select(
        "event_id", raw.alias("raw_date"), safe_date(raw).alias("safe_date")
    )


@register(
    "map_lookup_banding",
    survey=("F5", "F6", "F7", "F11"),
    oracle="""
SELECT event_id,
       CASE LOWER(event_type)
            WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
            WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
            ELSE 'other' END AS category,
       CASE WHEN value >= 400 THEN 'zone5' WHEN value >= 300 THEN 'zone4'
            WHEN value >= 200 THEN 'zone3' WHEN value >= 100 THEN 'zone2'
            ELSE 'zone1' END AS value_zone,
       CASE WHEN value IS NOT NULL AND value > 0
            THEN ROUND(LEAST(CAST(user_id AS DOUBLE) / value, 100.0), 6) END AS guarded_ratio,
       ROUND(ABS(value - 250), 6) AS abs_dev
FROM events
""",
)
def map_lookup_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal create_map lookup with default (F5 — the workout
    category map, bio_etl_utils.py:224-278), CASE threshold banding
    (F6 — HR zones, bio_etl_utils.py:297-311), guarded ratio with
    LEAST cap (F7 — output_per_minute, readiness_to_output_ratio) and
    ROUND/ABS (F11)."""
    ev = load(spark, sf_dir, "events")
    category = F.expr(map_lookup_sql(
        "event_type",
        {
            "click": "engagement",
            "view": "engagement",
            "purchase": "revenue",
            "signup": "growth",
        },
    ))
    zone = case_banding(
        "value",
        [(400, "zone5"), (300, "zone4"), (200, "zone3"), (100, "zone2")],
        otherwise="zone1",
    )
    ratio = F.when(
        F.col("value").isNotNull() & (F.col("value") > 0),
        R6(F.least(F.col("user_id").cast("double") / F.col("value"), F.lit(100.0))),
    )
    return ev.select(
        "event_id",
        category.alias("category"),
        zone.alias("value_zone"),
        ratio.alias("guarded_ratio"),
        R6(F.abs(F.col("value") - 250)).alias("abs_dev"),
    )


@register(
    "string_ops",
    survey=("F8", "P6", "P1"),
    oracle="""
SELECT d.doc_id,
       CASE WHEN d.text LIKE '%spark%' THEN 1 ELSE 0 END AS mentions_spark,
       NULLIF(d.source, 'src0') AS source_nullable,
       CASE WHEN CONTAINS(LOWER(d.text), 'join') THEN 1 ELSE 0 END AS mentions_join,
       CONCAT_WS('|', d.lang, d.source) AS lang_source,
       UPPER(d.lang) AS lang_upper,
       SUBSTRING(d.text, 1, 20) AS text_prefix
FROM documents d
WHERE NOT CONTAINS(LOWER(d.source), 'src19')
""",
)
def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String matching/concat family (F8 — `LIKE '%Cycling%'`
    categorize, NULLIF(disciplines,''), lower().contains) plus the
    source-exclusion filter idiom (P6 — healthkit_normalizer
    .py:127-128)."""
    d = load(spark, sf_dir, "documents").filter(
        ~F.lower(F.col("source")).contains("src19")
    )
    return d.select(
        "doc_id",
        F.when(F.col("text").like("%spark%"), 1).otherwise(0).alias(
            "mentions_spark"
        ),
        F.nullif(F.col("source"), F.lit("src0")).alias("source_nullable"),
        F.when(F.lower(F.col("text")).contains("join"), 1)
        .otherwise(0)
        .alias("mentions_join"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.upper("lang").alias("lang_upper"),
        F.substring("text", 1, 20).alias("text_prefix"),
    )


@register(
    "array_ops_embeddings",
    survey=("F9", "S3"),
    oracle="""
SELECT vec_id, label,
       CAST(LEN(embedding) AS INTEGER) AS dims,
       ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
       ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 6) AS vec_max,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component
FROM embeddings
""",
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation family (F9 — the MET items sum/len/max,
    oura_normalizer.py:170-177) over the embedding column: size,
    element access, array_max, and a fold (`aggregate`) — the same
    primitives the similarity operators build on."""
    e = load(spark, sf_dir, "embeddings")
    vec_sum = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double"),
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dims"),
        R6(vec_sum).alias("vec_sum"),
        R6(F.array_max("embedding").cast("double")).alias("vec_max"),
        R6(F.element_at("embedding", 1).cast("double")).alias(
            "first_component"
        ),
    )
