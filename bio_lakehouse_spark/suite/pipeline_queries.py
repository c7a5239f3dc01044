"""Source/sink + pipeline-discipline queries (SURVEY.md §2.1/§2.2).

Driver-checkable entries for the ingestion layer: header-grouped CSV
scanning with delimiter sniffing and snake_case normalization, the
partitioned-parquet sink with partition pruning, CTAS, the SQL facade
(gate + cache), last-of-day dedupe-aggregate, meal→daily rollup, the
rolling z-score baseline, and the FHIR flat export.

File-based entries materialize deterministic fixtures under
``<repo>/.fixtures/`` derived from the driver's own parquet tables, so
their oracles can still be expressed against the original tables.
"""

from __future__ import annotations

import os
import shutil
import zlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.suite.registry import load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

_FIXTURE_ROOT = Path(__file__).resolve().parents[2] / ".fixtures"

# Bump whenever the *code or session confs* that bake bytes into a
# fixture change (e.g. parquet timestamp confs, writer layout). The
# testdata fingerprint alone can't see those: a conf change with
# unchanged testdata would silently reuse a semantically stale fixture
# (the round-3 red row on `partitioned_sink_pruned_read` was exactly
# this — fixtures written under pre-`outputTimestampType` confs).
_FIXTURE_VERSION = 2


def _sf_tag(sf_dir: str) -> str:
    """Fixture tag = sf name + a fingerprint of the source parquet
    files (size + mtime), the fixture-format version and the resolved
    fixture root. Derived fixtures (CSV variants, partitioned sinks,
    LSH band tables, IVF indexes) persist across rounds under
    .fixtures/; if the testdata is regenerated OR the building code
    changes format (_FIXTURE_VERSION), a stale fixture would silently
    diverge from the fresh oracle — the fingerprint forces a rebuild
    instead. The root is in it because a streaming file sink's
    ``_spark_metadata`` log (and every checkpoint) records absolute
    paths: a copied or moved ``.fixtures/`` reads as an empty sink
    unless it is rebuilt where it now lives."""
    p = Path(sf_dir)
    sig = _FIXTURE_VERSION ^ zlib.crc32(str(_FIXTURE_ROOT).encode())
    for f in sorted(p.glob("*.parquet")):
        st = f.stat()
        sig = (sig * 1000003 + st.st_size + int(st.st_mtime)) & 0xFFFFFFFF
    return f"{p.name.replace('.', '_')}_{sig:08x}"


def fixture_path(prefix: str, sf_dir: str) -> Path:
    """Resolve `.fixtures/<prefix>_<tag>` and purge stale siblings of
    the same family+sf (older fingerprints, pre-fingerprint names, and
    their `_DONE` sentinels). Old dirs are actively dangerous, not
    just wasteful: any older code path that still resolves the
    unfingerprinted name reads bytes written under different confs and
    hash-mismatches the oracle."""
    tag = _sf_tag(sf_dir)
    current = f"{prefix}_{tag}"
    sf_name = Path(sf_dir).name.replace(".", "_")
    family = f"{prefix}_{sf_name}"
    if _FIXTURE_ROOT.exists():
        for entry in _FIXTURE_ROOT.iterdir():
            name = entry.name
            if name in (current, current + "_DONE"):
                continue
            if name == family or name.startswith(family + "_"):
                if entry.is_dir():
                    shutil.rmtree(entry, ignore_errors=True)
                else:
                    entry.unlink(missing_ok=True)
    return _FIXTURE_ROOT / current


# ---------------------------------------------------------------------------
# S1/S2/S4/SET2/P2 — header-grouped CSV scan with sniffing + dedup
# ---------------------------------------------------------------------------


def _build_csv_fixture(spark: SparkSession, sf_dir: str) -> Path:
    """Write `documents` as three CSV variants: comma/original order,
    comma/alphabetical order, semicolon/Title-Case headers — plus
    duplicated rows (doc_id % 10 == 0 repeated) for the dedup path.
    Idempotent via a _DONE sentinel."""
    root = fixture_path("csvscan", sf_dir)
    done = root / "_DONE"
    if done.exists():
        return root
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    part = F.col("doc_id") % 3
    (
        docs.filter(part == 0)
        .select("doc_id", "lang", "source", "text")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(str(root / "v0"))
    )
    (
        docs.filter(part == 1)
        .select("lang", "source", "text", "doc_id")  # different order
        .write.mode("overwrite")
        .option("header", "true")
        .csv(str(root / "v1"))
    )
    (
        docs.filter((part == 2) | (F.col("doc_id") % 10 == 0))
        .select(
            F.col("doc_id").alias("Doc Id"),
            F.col("lang").alias("Lang"),
            F.col("source").alias("Source"),
            F.col("text").alias("Text"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .option("sep", ";")
        .csv(str(root / "v2"))
    )
    done.touch()
    return root


@register(
    "csv_header_group_scan",
    survey=("S1", "S2", "S4", "SET2", "P2", "A11"),
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY lang
""",
)
def csv_header_group_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingestion scan: documents written as 3 CSV variants
    (two header orders + one semicolon/Title-Case), re-read via
    header-signature grouping (one positional read per group), sniffed
    delimiters, snake_cased headers, unionByName(allowMissingColumns)
    merge, and dropDuplicates on the id — then a per-lang aggregate
    the oracle reproduces from the original table. Exercises
    S1/S2/S4/SET2/P2 end to end (ref glue/oura_normalizer.py:83-267).
    """
    from bio_lakehouse_spark.sources.csv_source import read_header_grouped_csv
    from bio_lakehouse_spark.sources.files import list_files

    root = _build_csv_fixture(spark, sf_dir)
    paths = [p for p in list_files(root, "*.csv")]
    df = read_header_grouped_csv(spark, paths)
    df = df.dropDuplicates(["doc_id"])
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.min(F.col("doc_id").cast("long")).alias("min_doc_id"),
        F.max(F.col("doc_id").cast("long")).alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# S12/F3 — partitioned parquet sink + partition-pruned read-back
# ---------------------------------------------------------------------------


@register(
    "partitioned_sink_pruned_read",
    survey=("S12", "F3", "P8"),
    oracle="""
SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros
FROM events
WHERE strftime(ts, '%d') BETWEEN '10' AND '20'
GROUP BY 1, 2, 3
""",
)
def partitioned_sink_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout sink + pruned scan: events written
    partitionBy(year, month, day) (string partition columns, the
    reference's Silver layout — oura_normalizer.py:289-297), read back
    with a day-range predicate that prunes partitions at planning time
    (file listing drops ~2/3 of directories before any IO).

    Hash contract: values sum as integer micro-units (per-row
    round(value*1e6) then integer SUM), not ROUND(SUM(double),6) —
    the Spark side sums doubles from *re-partitioned* files while the
    oracle sums the original table, and double-sum order sensitivity
    made the old contract a coin-flip at the 6th decimal (the single
    red row in CORRECTNESS_r03). Integer sums are order-exact."""
    from bio_lakehouse_spark.sources.sinks import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    path = str(fixture_path("events_part", sf_dir))
    done = Path(path + "_DONE")
    if not done.exists():
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "value",
            F.date_format("ts", "yyyy").alias("year"),
            F.date_format("ts", "MM").alias("month"),
            F.date_format("ts", "dd").alias("day"),
        )
        write_partitioned_parquet(ev, path, ["year", "month", "day"])
        done.touch()
    # Named empty-source contract (VERDICT r12 #6): an empty events
    # table partitionBy-writes zero files and the read-back used to
    # die with a raw UNABLE_TO_INFER_SCHEMA.
    from bio_lakehouse_spark.suite.registry import require_artifact

    require_artifact(
        any(Path(path).rglob("*.parquet")),
        "partitioned_sink_pruned_read", "events",
        "partitioned parquet files",
    )
    back = read_partitioned_parquet(spark, path)
    micros = F.round(F.col("value") * 1000000.0, 0).cast("long")
    agg = (
        back.filter((F.col("day") >= "10") & (F.col("day") <= "20"))
        .groupBy("year", "month", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micros).cast("long").alias("total_value_micros"),
        )
    )
    # Belt-and-braces vs session partition-type inference: pin the
    # grouped partition keys back to the written zero-padded string
    # form AFTER the filter/groupBy, so pruning still sees the raw
    # partition column but the output schema is session-independent
    # (lpad(cast) is a no-op on the normal already-string path).
    return agg.select(
        F.lpad(F.col("year").cast("string"), 4, "0").alias("year"),
        F.lpad(F.col("month").cast("string"), 2, "0").alias("month"),
        F.lpad(F.col("day").cast("string"), 2, "0").alias("day"),
        "n_events",
        "total_value_micros",
    )


# ---------------------------------------------------------------------------
# S13 — CTAS
# ---------------------------------------------------------------------------


@register(
    "ctas_gold_table",
    survey=("S13", "A1"),
    oracle="""
SELECT user_id, CAST(ts AS DATE) AS date,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS daily_value
FROM events GROUP BY 1, 2
""",
)
def ctas_gold_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold-table CTAS (ref glue/dbt_gold_refresh.py:64-99): register
    the source as a view, CREATE TABLE AS SELECT into an explicit
    parquet location, return the catalog table."""
    from bio_lakehouse_spark.sources.sinks import create_table_as

    tag = _sf_tag(sf_dir)
    load(spark, sf_dir, "events").createOrReplaceTempView(f"events_src_{tag}")
    return create_table_as(
        spark,
        name=f"gold_user_daily_{tag}",
        select=f"""
            SELECT user_id, CAST(ts AS DATE) AS date,
                   COUNT(*) AS n_events, ROUND(SUM(value), 6) AS daily_value
            FROM events_src_{tag} GROUP BY user_id, CAST(ts AS DATE)
        """,
        path=str(fixture_path("ctas_gold", sf_dir)),
    )


# ---------------------------------------------------------------------------
# S8/S9/P9 — SQL facade
# ---------------------------------------------------------------------------

_FACADE_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS count_order,
       ROUND(SUM(l_quantity), 6) AS sum_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql_facade_roundtrip",
    survey=("S8", "S9", "P9", "S15"),
    oracle=_FACADE_SQL,
)
def sql_facade_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query through the engine facade: SELECT/WITH gate → md5 cache
    → spark.sql (ANSI text shared verbatim with the DuckDB oracle) —
    the interactive entry point NL-to-SQL clients use (ref
    insights_engine/core/athena_client.py:41-88, nl_to_sql.py:177-191).
    """
    from bio_lakehouse_spark.engine import QueryEngine

    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    eng = QueryEngine(spark)
    # Executed twice: the second call must be a cache hit (covered in
    # pytest; here it just proves the path end-to-end).
    eng.execute(_FACADE_SQL)
    return eng.execute(_FACADE_SQL)


# ---------------------------------------------------------------------------
# A3/W8 — last-of-day dedupe-aggregate
# ---------------------------------------------------------------------------


@register(
    "last_of_day_dedupe",
    survey=("A3", "W8", "A10"),
    oracle="""
SELECT user_id, CAST(ts AS DATE) AS date,
       ROUND(max_by(value, event_id) FILTER (WHERE event_type <> 'error'), 6)
         AS last_value,
       ROUND(AVG(value) FILTER (WHERE event_type <> 'error'), 6) AS avg_value,
       COUNT(*) AS n_readings
FROM events
GROUP BY 1, 2
""",
)
def last_of_day_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-of-day + daily mean per entity, ignoring invalid readings
    (A3 — multiple vitals readings a day collapse to the latest
    non-null + the mean; ref readiness_aggregator_ARCHIVED.py:113-158,
    gold_daily_rollup.sql:32-76). `max_by(value, event_id)` with a
    FILTER is the deterministic equivalent of LAST_VALUE IGNORE NULLS
    over an ordered window, without the window sort."""
    ev = load(spark, sf_dir, "events")
    valid = F.col("event_type") != "error"
    return ev.groupBy(
        "user_id", F.to_date("ts").alias("date")
    ).agg(
        R6(F.expr("max_by(value, event_id) FILTER (WHERE event_type <> 'error')")).alias(
            "last_value"
        ),
        R6(F.avg(F.when(valid, F.col("value")))).alias("avg_value"),
        F.count(F.lit(1)).alias("n_readings"),
    )


# ---------------------------------------------------------------------------
# A4/A11/F9 — meal-level dedupe → daily rollup
# ---------------------------------------------------------------------------


@register(
    "meal_daily_rollup",
    survey=("A4", "A11", "F9"),
    oracle="""
WITH dedup AS (
  SELECT user_id, CAST(ts AS DATE) AS date, event_type,
         min_by(value, event_id) AS value
  FROM events
  GROUP BY 1, 2, 3
)
SELECT user_id, date,
       ROUND(SUM(value), 6) AS total_value,
       COUNT(*) AS type_count,
       string_agg(event_type, ',' ORDER BY event_type) AS types
FROM dedup
GROUP BY 1, 2
""",
)
def meal_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MFP meal→daily pattern (A4 — mfp_normalizer.py:111-131):
    dedupe to one row per (entity, day, category) keeping the FIRST
    reading (min_by on the monotonic id — the deterministic version of
    dropDuplicates), then a daily rollup with a comma-joined sorted
    category set (F9: collect_set → array_sort → array_join; sorted
    so the hash is stable — SURVEY §7.4.5)."""
    ev = load(spark, sf_dir, "events")
    dedup = ev.groupBy(
        "user_id", F.to_date("ts").alias("date"), "event_type"
    ).agg(F.expr("min_by(value, event_id)").alias("value"))
    return dedup.groupBy("user_id", "date").agg(
        R6(F.sum("value")).alias("total_value"),
        F.count(F.lit(1)).alias("type_count"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types"
        ),
    )


# ---------------------------------------------------------------------------
# W11/ST15 — rolling z-score baseline flags
# ---------------------------------------------------------------------------


@register(
    "rolling_zscore_flags",
    survey=("W11", "ST15", "ST6"),
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         ROUND(SUM(value), 6) AS daily_value
  FROM events GROUP BY 1, 2
), base AS (
  SELECT user_id, date, daily_value,
         AVG(daily_value) OVER wb AS baseline_14d,
         STDDEV_SAMP(daily_value) OVER wb AS sd_14d,
         COUNT(*) OVER wb AS n_base
  FROM daily
  WINDOW wb AS (PARTITION BY user_id ORDER BY date
                ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, date, daily_value,
       ROUND(baseline_14d, 6) AS baseline_14d,
       CASE WHEN n_base >= 7 AND daily_value > 1.10 * baseline_14d
            THEN 1 ELSE 0 END AS elevated,
       CASE WHEN n_base >= 7 AND daily_value < 0.85 * baseline_14d
            THEN 1 ELSE 0 END AS suppressed,
       CASE WHEN n_base >= 7 AND sd_14d > 0
                 AND daily_value < baseline_14d - 1.5 * sd_14d
            THEN 1 ELSE 0 END AS anomaly
FROM base
""",
)
def rolling_zscore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day baselines excluding the current row, with the
    reference's recovery-impairment thresholds (>1.10×, <0.85×
    baseline — insights/training_load.py:93-101) and a z-score anomaly
    flag (mean − 1.5σ — insights/anomaly_detection.py:40-60), gated on
    ≥7 days of history like the reference's minimum-n caveats."""
    from bio_lakehouse_spark.suite.window_queries import user_daily

    d = user_daily(spark, sf_dir)
    wb = (
        Window.partitionBy("user_id")
        .orderBy("date")
        .rowsBetween(-14, -1)
    )
    baseline = F.avg("daily_value").over(wb)
    sd = F.stddev_samp("daily_value").over(wb)
    n_base = F.count(F.lit(1)).over(wb)
    gated = n_base >= 7
    return d.select(
        "user_id",
        "date",
        "daily_value",
        R6(baseline).alias("baseline_14d"),
        F.when(gated & (F.col("daily_value") > 1.10 * baseline), 1)
        .otherwise(0)
        .alias("elevated"),
        F.when(gated & (F.col("daily_value") < 0.85 * baseline), 1)
        .otherwise(0)
        .alias("suppressed"),
        F.when(
            gated & (sd > 0) & (F.col("daily_value") < baseline - 1.5 * sd), 1
        )
        .otherwise(0)
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# S16/F5 — FHIR flat observation export
# ---------------------------------------------------------------------------

_LOINC_MAP = {
    "view": ("59408-5", "views/day", "engagement"),
    "click": ("55423-8", "clicks/day", "engagement"),
    "purchase": ("77137-8", "purchases/day", "commerce"),
    "signup": ("67504-6", "signups/day", "accounts"),
    "error": ("75323-6", "errors/day", "quality"),
}


def _fhir_oracle() -> str:
    code = " ".join(
        f"WHEN '{k}' THEN '{v[0]}'" for k, v in _LOINC_MAP.items()
    )
    unit = " ".join(
        f"WHEN '{k}' THEN '{v[1]}'" for k, v in _LOINC_MAP.items()
    )
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date, event_type,
         ROUND(SUM(value), 6) AS value_quantity
  FROM events GROUP BY 1, 2, 3
)
SELECT 'Observation' AS resource_type,
       md5(concat('observation:', user_id, ':', strftime(date, '%Y-%m-%d'),
                  ':', event_type)) AS observation_id,
       concat('Patient/', CAST(user_id AS VARCHAR)) AS patient_ref,
       CASE event_type {code} ELSE 'unknown' END AS loinc_code,
       CASE event_type {unit} ELSE 'unit' END AS unit,
       strftime(date, '%Y-%m-%d') AS effective_date,
       value_quantity
FROM daily
"""


@register("fhir_observations_flat", survey=("S16", "F5"), oracle=_fhir_oracle())
def fhir_observations_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FHIR R4 Observation export, flat form (S16 — ref
    insights_engine/fhir/bundle_builder.py:98-222): LOINC-coded rows
    with deterministic content-derived ids (md5 here; the reference's
    UUIDv5 is sha1-based — same determinism guarantee) and
    Patient/<id> references. The JSON bundle assembly over these rows
    is `products.fhir.bundle_json` (tested in pytest; JSON-shape
    output isn't hash-comparable through the flat oracle)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("date"), "event_type"
    ).agg(R6(F.sum("value")).alias("value_quantity"))
    code_map = F.create_map(
        *[
            x
            for k, v in _LOINC_MAP.items()
            for x in (F.lit(k), F.lit(v[0]))
        ]
    )
    unit_map = F.create_map(
        *[
            x
            for k, v in _LOINC_MAP.items()
            for x in (F.lit(k), F.lit(v[1]))
        ]
    )
    date_str = F.date_format("date", "yyyy-MM-dd")
    return daily.select(
        F.lit("Observation").alias("resource_type"),
        F.md5(
            F.concat(
                F.lit("observation:"),
                F.col("user_id").cast("string"),
                F.lit(":"),
                date_str,
                F.lit(":"),
                F.col("event_type"),
            )
        ).alias("observation_id"),
        F.concat(F.lit("Patient/"), F.col("user_id").cast("string")).alias(
            "patient_ref"
        ),
        F.coalesce(code_map[F.col("event_type")], F.lit("unknown")).alias(
            "loinc_code"
        ),
        F.coalesce(unit_map[F.col("event_type")], F.lit("unit")).alias("unit"),
        date_str.alias("effective_date"),
        "value_quantity",
    )


# ---------------------------------------------------------------------------
# J7-class custom joins: as-of and bucketized range join
# ---------------------------------------------------------------------------


@register(
    "asof_last_purchase",
    survey=("J7", "J3", "W1"),
    oracle="""
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id, c.ts,
       ROUND(p.value, 6) AS asof_value,
       CAST(date_diff('second', p.ts, c.ts) AS BIGINT) AS secs_since_purchase
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click enriched with the user's latest purchase
    at-or-before it. Implemented as union + one ordered window
    forward-fill (single shuffle on (user, ts) — the shape that
    survives 100 TB; no range join, no candidate explosion). The
    oracle is DuckDB's NATIVE ASOF JOIN — a fully independent
    implementation of the semantics."""
    from bio_lakehouse_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value", "ts"],
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        R6(F.col("asof_value")).alias("asof_value"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")
        ).cast("long").alias("secs_since_purchase"),
    )


@register(
    "range_join_error_window",
    survey=("J7", "P8"),
    oracle="""
WITH signups AS (
  SELECT user_id, event_id AS signup_id, ts FROM events
  WHERE event_type = 'signup'
), errors AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.signup_id,
       COUNT(e.ts) AS errors_within_1h,
       ROUND(COALESCE(SUM(e.value), 0), 6) AS error_value_1h
FROM signups s
LEFT JOIN errors e
  ON e.user_id = s.user_id
 AND e.ts >= s.ts AND e.ts < s.ts + INTERVAL 1 HOUR
GROUP BY s.user_id, s.signup_id
""",
)
def range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: errors within 1 hour after each signup, via the
    bucketized equi-join (quantize to 1h bins, explode left to its 2
    touchable bins, hash-join on (user, bin), exact band filter) —
    the scale-safe alternative to Spark's nested-loop plan for pure
    inequality joins. LEFT semantics recovered by re-joining the
    aggregate onto the signup spine."""
    from bio_lakehouse_spark.operators.joins import range_join_bucketed

    ev = load(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    pairs = range_join_bucketed(
        signups, errors, on=["user_id"], left_ts="ts", right_ts="ts",
        lower_s=0, upper_s=3600, bucket_s=3600,
    )
    counts = pairs.groupBy("user_id", "signup_id").agg(
        F.count(F.lit(1)).alias("errors_within_1h"),
        R6(F.sum("r_value")).alias("error_value_1h"),
    )
    return (
        signups.select("user_id", "signup_id")
        .join(counts, on=["user_id", "signup_id"], how="left")
        .select(
            "user_id",
            "signup_id",
            F.coalesce(F.col("errors_within_1h"), F.lit(0)).alias(
                "errors_within_1h"
            ),
            R6(F.coalesce(F.col("error_value_1h"), F.lit(0.0))).alias(
                "error_value_1h"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation (salting) — results must equal the plain agg
# ---------------------------------------------------------------------------


@register(
    "salted_skew_agg",
    survey=("A1", "A10"),
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 6) AS total,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value,
       ROUND(SUM(value) / COUNT(*), 6) AS avg_value
FROM events
GROUP BY event_type
""",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a low-cardinality key (5 event
    types over all rows — exactly the hot-key shape that straggles a
    single reducer at scale). The oracle is the PLAIN aggregate:
    salting must be invisible in the result; avg recomposed as
    merged-sum/merged-count, never an average of partial averages."""
    from bio_lakehouse_spark.operators.skew import salted_agg_cols

    ev = load(spark, sf_dir, "events")
    out = salted_agg_cols(ev, ["event_type"], "value", n_salts=16)
    return out.select(
        "event_type",
        "n",
        R6(F.col("total")).alias("total"),
        R6(F.col("min_value")).alias("min_value"),
        R6(F.col("max_value")).alias("max_value"),
        R6(F.col("avg_value")).alias("avg_value"),
    )


def _profile_oracle() -> str:
    cols = {
        "o_orderkey": "o_orderkey",
        "o_custkey": "o_custkey",
        "o_orderdate": "o_orderdate",
        "o_orderpriority": "o_orderpriority",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(o_totalprice AS DECIMAL(18,2))",
    }
    parts = [
        f"""SELECT '{name}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({expr}) AS n_nulls,
       COUNT(DISTINCT {expr}) AS n_distinct,
       CAST(MIN({expr}) AS VARCHAR) AS min_val,
       CAST(MAX({expr}) AS VARCHAR) AS max_val,
       ROUND(COUNT({expr}) * 1.0 / COUNT(*), 6) AS completeness
FROM orders"""
        for name, expr in cols.items()
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "profile_orders_columns",
    survey=("P10", "A11", "A8"),
    oracle=_profile_oracle(),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile of `orders`: per column, row/null/
    exact-distinct counts, stringified min/max, completeness — in ONE
    aggregation over ONE scan for all six columns (the oracle's
    UNION-ALL-per-column form is the N-scan shape this operator
    exists to avoid). Floats profile through a DECIMAL cast so both
    engines stringify identically. The ingest-time data-quality gate
    for any training pipeline."""
    from bio_lakehouse_spark.operators.profiling import profile_columns

    orders = load(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        {
            "o_orderkey": F.col("o_orderkey"),
            "o_custkey": F.col("o_custkey"),
            "o_orderdate": F.col("o_orderdate"),
            "o_orderpriority": F.col("o_orderpriority"),
            "o_orderstatus": F.col("o_orderstatus"),
            "o_totalprice": F.col("o_totalprice").cast("decimal(18,2)"),
        },
    )


_CONSTRAINT_RULES = (
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('F', 'O', 'P')"),
    ("date_in_range", "o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'"),
    ("custkey_not_null", "o_custkey IS NOT NULL"),
)


@register(
    "constraint_check_orders",
    survey=("P10", "A8"),
    oracle="""
SELECT 'totalprice_positive' AS constraint, COUNT(*) AS n_rows,
       COUNT(*) FILTER (NOT (o_totalprice > 0)) AS n_violations,
       COUNT(*) FILTER (NOT (o_totalprice > 0)) = 0 AS passed FROM orders
UNION ALL
SELECT 'status_in_domain', COUNT(*),
       COUNT(*) FILTER (NOT (o_orderstatus IN ('F', 'O', 'P'))),
       COUNT(*) FILTER (NOT (o_orderstatus IN ('F', 'O', 'P'))) = 0 FROM orders
UNION ALL
SELECT 'date_in_range', COUNT(*),
       COUNT(*) FILTER (NOT (o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31')),
       COUNT(*) FILTER (NOT (o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31')) = 0 FROM orders
UNION ALL
SELECT 'custkey_not_null', COUNT(*),
       COUNT(*) FILTER (NOT (o_custkey IS NOT NULL)),
       COUNT(*) FILTER (NOT (o_custkey IS NOT NULL)) = 0 FROM orders
""",
)
def constraint_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint gate on `orders`: every rule evaluated
    as a conditional count inside ONE aggregation over ONE scan
    (rule count never adds scans — the oracle's UNION-ALL form is
    the N-scan shape this avoids). The enforce half of the P10
    data-quality surface; `profile_orders_columns` is the describe
    half."""
    from bio_lakehouse_spark.operators.profiling import check_constraints

    orders = load(spark, sf_dir, "orders")
    return check_constraints(orders, _CONSTRAINT_RULES)


@register(
    "versioned_snapshot_read",
    survey=("S12", "S13", "A1"),
    oracle="""
SELECT event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY event_type
""",
)
def versioned_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot table end to end: commit the per-type
    rollup through versioned_write (stage → audit → rename-CAS claim
    → atomic pointer), then read it back THROUGH the published
    pointer — so the driver's hash gate certifies the commit
    protocol's round-trip, not just the rollup. A second commit of
    the same frame bumps the version and must leave the data
    identical (exercised every sweep: the fixture dir accretes one
    version per run and the pointer always resolves to the newest)."""
    from bio_lakehouse_spark.sources.sinks import (
        read_versioned,
        vacuum_versions,
        versioned_write,
    )

    rollup = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    path = str(fixture_path("versioned_rollup", sf_dir))
    versioned_write(rollup, path)
    vacuum_versions(path, keep_last=3)
    return read_versioned(spark, path)


@register(
    "dataset_diff",
    survey=("J1", "A11", "P10"),
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
), v2 AS (
  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
                          THEN concat(text, ' edited')
                          ELSE text END) AS h
  FROM documents WHERE doc_id % 10 <> 1
)
SELECT status, COUNT(*) AS n_docs FROM (
  SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
) GROUP BY status
""",
)
def dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version dataset diff — the change audit run between
    two corpus materializations (pairs with versioned_write/
    dataset_manifest): FULL OUTER join on doc id, rows classified
    added / removed / modified (content hash differs) / unchanged.
    One keyed shuffle; the two 'versions' here are deterministic
    slices with planted edits so every class is populated."""
    docs = load(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5("text").alias("h1")
    )
    v2 = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" edited"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
    )
    joined = v1.join(v2, on="doc_id", how="full_outer")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "modified")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "psi_drift_monitor",
    survey=("A6", "ST6", "P10"),
    oracle="""
WITH ref AS (
  SELECT CAST(LEAST(9, GREATEST(0, floor(n_chars / 100))) AS INT) AS bucket,
         COUNT(*) AS c
  FROM documents WHERE doc_id < 250 GROUP BY 1
), cur AS (
  SELECT CAST(LEAST(9, GREATEST(0, floor(n_chars / 100))) AS INT) AS bucket,
         COUNT(*) AS c
  FROM documents WHERE doc_id >= 250 GROUP BY 1
), tot AS (
  SELECT (SELECT SUM(c) FROM ref) AS nr, (SELECT SUM(c) FROM cur) AS nc
), b AS (
  SELECT COALESCE(ref.bucket, cur.bucket) AS bucket,
         (COALESCE(ref.c, 0) + 0.5) / (nr + 5.0) AS p,
         (COALESCE(cur.c, 0) + 0.5) / (nc + 5.0) AS q
  FROM ref FULL OUTER JOIN cur USING (bucket), tot
)
SELECT bucket, ROUND(p, 6) AS p_ref, ROUND(q, 6) AS q_cur,
       ROUND((q - p) * ln(q / p), 6) AS psi_term
FROM b
""",
)
def psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per bucket — the standard
    distribution-drift monitor between a reference corpus slice and
    the current batch (PSI > 0.2 conventionally = action). Doc-length
    deciles with add-half smoothing so empty buckets stay finite;
    per-bucket terms returned (Σ is the PSI) so the alert can name
    WHICH bucket moved. Two partial-aggregated groupBys + a tiny
    full-outer on 10 buckets."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("n_chars") / 100))
    ).cast("int")
    ref = (
        docs.filter(F.col("doc_id") < 250)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    cur = (
        docs.filter(F.col("doc_id") >= 250)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    nr = ref.groupBy().agg(F.sum("cr").alias("nr"))
    nc = cur.groupBy().agg(F.sum("cc").alias("nc"))
    b = (
        ref.join(cur, on="bucket", how="full_outer")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "bucket",
            (
                (F.coalesce(F.col("cr"), F.lit(0)) + 0.5)
                / (F.col("nr") + 5.0)
            ).alias("p"),
            (
                (F.coalesce(F.col("cc"), F.lit(0)) + 0.5)
                / (F.col("nc") + 5.0)
            ).alias("q"),
        )
    )
    return b.select(
        "bucket",
        F.round("p", 6).alias("p_ref"),
        F.round("q", 6).alias("q_cur"),
        F.round((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 6).alias(
            "psi_term"
        ),
    )


def _skew_oracle_one(table: str, col: str) -> str:
    return f"""
  SELECT '{col}' AS key_col, COUNT(*) AS n_keys, MAX(f) AS max_freq,
         ROUND(AVG(f), 6) AS mean_freq,
         ROUND(MAX(f) / AVG(f), 6) AS skew_ratio,
         ROUND(-SUM((f * 1.0 / tot) * LN(f * 1.0 / tot)) / LN(COUNT(*)), 6)
           AS entropy_norm,
         ROUND(2.0 * SUM(i * f) / (COUNT(*) * SUM(f))
               - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
  FROM (
    SELECT f, ROW_NUMBER() OVER (ORDER BY f) AS i, SUM(f) OVER () AS tot
    FROM (SELECT {col} AS k, COUNT(*) AS f FROM {table} GROUP BY {col})
  )"""


@register(
    "skew_profile_keys",
    survey=("P10", "A10"),
    oracle="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        [
            _skew_oracle_one("events", "user_id"),
            _skew_oracle_one("events", "event_type"),
            _skew_oracle_one("orders", "o_custkey"),
        ]
    )
    + "\n) ORDER BY key_col",
)
def skew_profile_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew diagnostics (distinct keys, max/mean
    frequency ratio, normalized entropy, Gini) for the three join/agg
    keys the suite shuffles on most — the pre-flight check that
    decides plain hash vs AQE skew split vs explicit salting
    (operators/profiling.key_skew_profile; salting itself is
    oracle-proven by salted_skew_agg)."""
    from bio_lakehouse_spark.operators.profiling import key_skew_profile

    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    prof = key_skew_profile(ev, ["user_id", "event_type"]).unionAll(
        key_skew_profile(orders, ["o_custkey"])
    )
    return prof.select(
        "key_col",
        "n_keys",
        "max_freq",
        F.round("mean_freq", 6).alias("mean_freq"),
        F.round("skew_ratio", 6).alias("skew_ratio"),
        F.round("entropy_norm", 6).alias("entropy_norm"),
        F.round("gini", 6).alias("gini"),
    ).orderBy("key_col")


@register(
    "scd2_user_dimension",
    survey=("S13", "W4", "W7"),
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(MAX_BY(value, ts), 6) AS attr
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
), flagged AS (
  SELECT user_id, day, attr,
         CASE WHEN attr IS DISTINCT FROM
                   LAG(attr) OVER (PARTITION BY user_id ORDER BY day)
              THEN 1 ELSE 0 END AS chg
  FROM daily
), grouped AS (
  SELECT user_id, day, attr,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM flagged
), intervals AS (
  SELECT user_id, attr, grp, MIN(day) AS valid_from
  FROM grouped GROUP BY user_id, attr, grp
)
SELECT user_id, attr, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         - INTERVAL 1 DAY AS valid_to,
       CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id
                                        ORDER BY valid_from) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM intervals ORDER BY user_id, valid_from
""",
)
def scd2_user_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 build (Kimball): collapse the
    per-user daily attribute stream into validity intervals
    [valid_from, valid_to] + is_current — the dimension-table shape
    every lakehouse MERGE pipeline maintains (the interval construction
    that merge_upsert/refresh_partitions would persist incrementally).

    Pure gaps-and-islands: change flags (lag), running change-count
    as the island id (one cumulative window), one groupBy for
    interval starts, one lead window for the close dates. All windows
    partition BY USER — series parallelism is user count; no global
    sort anywhere.
    """
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.max_by("value", "ts"), 6).alias("attr"))
    wu = Window.partitionBy("user_id").orderBy("day")
    flagged = daily.withColumn(
        "chg",
        F.when(
            ~F.col("attr").eqNullSafe(F.lag("attr").over(wu)), 1
        ).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp",
        F.sum("chg").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    intervals = grouped.groupBy("user_id", "attr", "grp").agg(
        F.min("day").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from")
    return intervals.select(
        "user_id",
        "attr",
        "valid_from",
        F.date_sub(F.lead("valid_from").over(wv), 1).alias("valid_to"),
        F.when(F.lead("valid_from").over(wv).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
    ).orderBy("user_id", "valid_from")


@register(
    "fd_violation_audit",
    survey=("P10", "A11"),
    oracle="""
WITH fd AS (
  SELECT c_nationkey AS lhs, COUNT(DISTINCT c_mktsegment) AS n_rhs,
         COUNT(*) AS n_rows
  FROM customer GROUP BY c_nationkey
)
SELECT COUNT(*) AS n_lhs_values,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violating_lhs,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_in_violation,
       MAX(n_rhs) AS max_rhs_per_lhs
FROM fd
""",
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does nationkey → mktsegment hold?
    (It shouldn't — the violation counts ARE the signal.) The generic
    schema-inference primitive behind candidate-key discovery and
    denormalization checks: one groupBy on the LHS with a distinct
    count of the RHS, summarized. At 100 TB this is the profile you
    run before trusting a column as a partition key carrier."""
    cust = load(spark, sf_dir, "customer")
    fd = cust.groupBy(F.col("c_nationkey").alias("lhs")).agg(
        F.count_distinct("c_mktsegment").alias("n_rhs"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return fd.agg(
        F.count(F.lit(1)).alias("n_lhs_values"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).alias(
            "n_violating_lhs"
        ),
        F.sum(
            F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(0)
        ).alias("rows_in_violation"),
        F.max("n_rhs").alias("max_rhs_per_lhs"),
    )


@register(
    "referential_integrity_audit",
    survey=("P10", "J6"),
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS fk,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
ORDER BY fk
""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit for the two load-bearing FKs: child
    rows with no parent, via LEFT ANTI joins (broadcast when the
    parent key set fits, shuffle hash otherwise — Spark picks; the
    anti join never materializes matches). The check that gates a
    snapshot publish in the write-audit-publish protocol."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    r1 = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .crossJoin(
            F.broadcast(li.agg(F.count(F.lit(1)).alias("n_child_rows")))
        )
        .select(
            F.lit("lineitem.l_orderkey->orders").alias("fk"),
            "n_child_rows",
            "n_orphans",
        )
    )
    r2 = (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .crossJoin(
            F.broadcast(orders.agg(F.count(F.lit(1)).alias("n_child_rows")))
        )
        .select(
            F.lit("orders.o_custkey->customer").alias("fk"),
            "n_child_rows",
            "n_orphans",
        )
    )
    return r1.unionAll(r2).orderBy("fk")


@register(
    "benford_first_digit",
    survey=("ST3", "A6"),
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS d
  FROM orders WHERE o_totalprice >= 1
), obs AS (
  SELECT d, COUNT(*) AS o FROM digits GROUP BY d
), scored AS (
  SELECT d, o, SUM(o) OVER () AS n,
         LOG10(1.0 + 1.0 / d) AS p_benford
  FROM obs
)
SELECT d, o AS observed,
       ROUND(n * p_benford, 6) AS expected,
       ROUND((o - n * p_benford) * (o - n * p_benford) / (n * p_benford), 6)
         AS chi2_term
FROM scored ORDER BY d
""",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals: observed
    vs expected log10(1+1/d) counts with per-digit χ² terms — the
    classic anomaly/fraud screen for financial fact tables, and a
    pure two-aggregate plan (digit extraction is string arithmetic in
    the scan projection)."""
    # ~isnan (r12 NaN sweep): Spark orders NaN ABOVE every number,
    # so `NaN >= 1` passes the filter, floor(NaN)'s long conversion
    # lands digit 0, and 1/d aborted the job. A NaN amount has no
    # first digit — exclude it like the sub-1 totals.
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= 1)
        & ~F.isnan(F.col("o_totalprice"))
    )
    # floor() before the integer cast: Spark's double->bigint cast
    # truncates while DuckDB's rounds — floor pins both to the same
    # integer (19999.6 must not flip its first digit to 2).
    digits = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("o"))
    wall = Window.partitionBy()
    scored = obs.select(
        "d",
        "o",
        F.sum("o").over(wall).alias("n"),
        F.log10(1.0 + 1.0 / F.col("d")).alias("p_benford"),
    )
    exp = F.col("n") * F.col("p_benford")
    return scored.select(
        "d",
        F.col("o").alias("observed"),
        R6(exp).alias("expected"),
        R6((F.col("o") - exp) * (F.col("o") - exp) / exp).alias(
            "chi2_term"
        ),
    ).orderBy("d")


@register(
    "ivm_join_refresh_audit",
    survey=("S13b", "J4", "A1"),
    oracle="""
SELECT o.o_orderdate AS order_date,
       COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice), 6) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderdate ORDER BY o.o_orderdate
""",
)
def ivm_join_refresh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental-view-maintenance equivalence, under the
    driver's hash gate: both base tables are hash-split 80/20 into
    base+delta, the daily-revenue JOIN view is maintained as
    old_view ∪ Δ(A⋈B) (delta rule: ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB,
    operators/ivm.join_view_delta), and the aggregated result must
    hash-match the oracle's direct FULL recompute — the refresh never
    rescans base⋈base, which is the whole point at 100 TB: per-batch
    cost O(|Δ|·matches), not O(|A⋈B|)."""
    from bio_lakehouse_spark.operators.ivm import join_view_delta
    from bio_lakehouse_spark.operators.sampling import hash_unit

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o_is_base = hash_unit(F.col("o_orderkey"), salt="ivmo:") < 0.8
    l_is_base = (
        hash_unit(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("#"),
                F.col("l_linenumber").cast("string"),
            ),
            salt="ivml:",
        )
        < 0.8
    )
    # r13: evaluate the md5-based split hash ONCE per table and
    # materialize the flagged frame — the base/delta pair and the
    # delta rule's three joins used to re-scan each parquet table (8
    # scans total) and re-hash every row per branch. One scan + one
    # hash pass per table now feeds all four split frames. (On a real
    # pipeline base and delta arrive as separate tables; the split is
    # fixture construction, so materializing it is the honest analog.)
    # r14 (VERDICT r13 #2): the checkpoints are PROJECTED to exactly
    # the columns the view needs — orders (key, date, flag), lineitem
    # (key, price, flag): l_linenumber only feeds the split hash, so
    # it is dropped before materialization (−8 B/row in the block
    # store at any scale). localCheckpoint (not persist) is
    # deliberate: CacheManager matches canonicalized plans across
    # query invocations, so persist would hand run 2 of the bench the
    # cached frame — cross-run intermediate reuse the contract bans —
    # while localCheckpoint is per-invocation and spills MEMORY_AND_
    # DISK rather than pinning heap.
    of = orders.withColumn("__base", o_is_base).localCheckpoint()
    lf = (
        li.withColumn("__base", l_is_base)
        .select("l_orderkey", "l_extendedprice", "__base")
        .localCheckpoint()
    )
    a0 = of.filter("__base").drop("__base").withColumnRenamed("o_orderkey", "k")
    da = of.filter(~F.col("__base")).drop("__base").withColumnRenamed(
        "o_orderkey", "k"
    )
    b0 = lf.filter("__base").drop("__base").withColumnRenamed("l_orderkey", "k")
    db = lf.filter(~F.col("__base")).drop("__base").withColumnRenamed(
        "l_orderkey", "k"
    )

    old_view = a0.join(b0, "k")
    delta = join_view_delta(a0, da, b0, db, ["k"])
    return (
        old_view.unionByName(delta)
        .groupBy(F.col("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            R6(F.sum("l_extendedprice")).alias("revenue"),
        )
        .orderBy("order_date")
    )


@register(
    "partition_volume_anomaly",
    survey=("P10", "W6", "ST6"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
), pre AS (
  SELECT day, n,
         LIST(n) OVER (ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS win
  FROM daily
), med AS (
  SELECT day, n, win,
         CASE WHEN LEN(win) > 0
              THEN LIST_SORT(win)[CAST(CEIL(LEN(win) / 2.0) AS INTEGER)]
         END AS base_med
  FROM pre
), scored AS (
  SELECT day, n, base_med,
         CASE WHEN LEN(win) > 0 THEN
           LIST_SORT(LIST_TRANSFORM(win, x -> ABS(x - base_med)))
             [CAST(CEIL(LEN(win) / 2.0) AS INTEGER)]
         END AS base_mad,
         COALESCE(LEN(win), 0) AS n_baseline
  FROM med
)
SELECT day, n, base_med, base_mad, CAST(n_baseline AS BIGINT) AS n_baseline,
       CASE WHEN base_mad IS NOT NULL AND base_mad > 0
             AND ABS(n - base_med) > 3.0 * 1.4826 * base_mad
            THEN 1 ELSE 0 END AS is_anomaly
FROM scored ORDER BY day
""",
)
def partition_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-volume anomaly monitor: each day's row count vs the
    MAD robust band of the trailing 7 days EXCLUDING itself (the
    leave-one-out baseline of W6 + the discrete-median contract of
    rolling_median_7d) — the freshness/volume check a pipeline runs
    per partition before publishing, with the anomaly verdicts
    themselves inside the hash gate. Bounded ≤7-element windows over
    the daily frame; nothing rescans events."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    pre = daily.withColumn("win", F.collect_list("n").over(w))
    mid = F.ceil(F.size("win") / 2.0).cast("int")
    base_med = F.when(
        F.size("win") > 0, F.element_at(F.array_sort("win"), mid)
    )
    scored = pre.withColumn("base_med", base_med).withColumn(
        "base_mad",
        F.when(
            F.size("win") > 0,
            F.element_at(
                F.array_sort(
                    F.transform(
                        "win", lambda x: F.abs(x - F.col("base_med"))
                    )
                ),
                mid,
            ),
        ),
    )
    return scored.select(
        "day",
        "n",
        "base_med",
        "base_mad",
        F.size("win").cast("long").alias("n_baseline"),
        F.when(
            F.col("base_mad").isNotNull()
            & (F.col("base_mad") > 0)
            & (
                F.abs(F.col("n") - F.col("base_med"))
                > 3.0 * 1.4826 * F.col("base_mad")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_anomaly"),
    ).orderBy("day")


@register(
    "dense_ids_scalable",
    survey=("O1", "W7", "P10"),
    oracle="""
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS dense_id
FROM documents ORDER BY dense_id
""",
)
def dense_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids (ordered by (n_chars, doc_id)) via the
    partition-offset technique — range partition, local rank,
    |partitions|-row offset frame broadcast back — instead of the
    single-task global window ROW_NUMBER degenerates to. The id
    assignment every training-data shard/packing step needs at
    corpus scale; the oracle IS the naive global window, proving the
    distributed form computes the identical ranks
    (operators/aggregates.dense_ids)."""
    from bio_lakehouse_spark.operators.aggregates import dense_ids

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = dense_ids(
        docs, ["n_chars", "doc_id"], num_partitions=8,
        assume_unique=True,  # doc_id is the table PK
    )
    return out.select("doc_id", "dense_id").orderBy("dense_id")


@register(
    "orc_sink_pruned_read",
    survey=("S12", "S7", "P8"),
    oracle="""
SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros
FROM events
WHERE strftime(ts, '%m') = '01'
  AND strftime(ts, '%d') BETWEEN '05' AND '12'
GROUP BY 1, 2, 3
""",
)
def orc_sink_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar format, same guarantees: events written as
    Hive-partitioned ORC (sources.sinks.write_table_format — ORC
    ships with Spark: footer stats, predicate pushdown and partition
    pruning all behave exactly as for parquet). Partitioned by
    (year, month) with ``day`` kept as a DATA column, so the
    read-back exercises BOTH pruning layers: the month predicate
    prunes partition directories at planning time and the day range
    pushes into ORC stripe/row-group footer stats (PushedFilters) —
    the parquet twin covers the all-partition-column case. r6's
    month-02/03 predicate matched zero fixture rows (all events are
    2024-01) so its green was vacuous; this predicate returns 8
    nonempty day groups, and the registry's expect_rows contract now
    flags any 0-row green. Same integer-micros hash contract and
    session-independent string partitions as the parquet twin."""
    from bio_lakehouse_spark.sources.sinks import (
        read_table_format,
        write_table_format,
    )

    path = str(fixture_path("events_orc_v2", sf_dir))
    done = Path(path + "_DONE")
    if not done.exists():
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "value",
            F.date_format("ts", "yyyy").alias("year"),
            F.date_format("ts", "MM").alias("month"),
            F.date_format("ts", "dd").alias("day"),
        )
        write_table_format(ev, path, fmt="orc",
                           partition_cols=["year", "month"])
        done.touch()
    # Named empty-source contract (VERDICT r12 #6), ORC twin of the
    # parquet guard above.
    from bio_lakehouse_spark.suite.registry import require_artifact

    require_artifact(
        any(Path(path).rglob("*.orc")),
        "orc_sink_pruned_read", "events", "partitioned ORC files",
    )
    back = read_table_format(spark, path, fmt="orc")
    micros = F.round(F.col("value") * 1000000.0, 0).cast("long")
    agg = (
        back.filter(
            (F.col("month") == "01")
            & (F.col("day") >= "05")
            & (F.col("day") <= "12")
        )
        .groupBy("year", "month", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micros).cast("long").alias("total_value_micros"),
        )
    )
    return agg.select(
        F.lpad(F.col("year").cast("string"), 4, "0").alias("year"),
        F.lpad(F.col("month").cast("string"), 2, "0").alias("month"),
        "day",
        "n_events",
        "total_value_micros",
    )


@register(
    "ivm_agg_retraction_audit",
    survey=("A1", "A11", "S13"),
    oracle="""
WITH live AS (
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE NOT (o_orderpriority = '1-URGENT'
             AND CAST(o_orderdate AS DATE) < DATE '1994-01-01')
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS total_price
FROM live GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def ivm_agg_retraction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under DELETES (the signed-
    weight / Z-set counting method, DBSP VLDB'23 — operators/ivm):
    the priority-level revenue view is built incrementally through
    three refreshes — two insert batches split by order date, then a
    RETRACTION batch (weight −1) deleting every pre-1994 1-URGENT
    order — and the final view must equal the batch aggregate over
    the surviving rows, which is exactly what the oracle computes
    from scratch. Certifies the full-outer keyed merge, the signed
    partials, and the count-0 tombstone rule under the driver's hash
    gate (ivm_join_refresh_audit covers the join-delta rule; this is
    the aggregate-with-deletes half). Each refresh costs one partial
    agg of the delta + one keyed merge — the base is never
    rescanned."""
    from bio_lakehouse_spark.operators.ivm import (
        agg_view_delta,
        agg_view_refresh,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.to_date("o_orderdate").alias("d"),
    )
    cut = F.lit("1994-01-01").cast("date")
    b1 = orders.filter(F.col("d") < cut).withColumn("__w", F.lit(1))
    b2 = orders.filter(F.col("d") >= cut).withColumn("__w", F.lit(1))
    # retraction: delete every pre-1994 1-URGENT order (weight −1)
    b3 = (
        orders.filter(
            (F.col("d") < cut) & (F.col("o_orderpriority") == "1-URGENT")
        )
        .withColumn("__w", F.lit(-1))
    )
    keys, sums = ["o_orderpriority"], ["price"]
    view = agg_view_delta(b1, keys, sums).localCheckpoint()
    for delta in (b2, b3):
        view = agg_view_refresh(view, delta, keys, sums).localCheckpoint()
    return view.select(
        "o_orderpriority",
        F.col("__cnt").cast("long").alias("n_orders"),
        R6(F.col("__sum_price")).alias("total_price"),
    ).orderBy("o_orderpriority")
