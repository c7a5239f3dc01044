"""Daily-pipeline orchestration — the engine-level analog of the
reference's two orchestration Lambdas.

Reference behavior being mirrored:
- ``lambda/ingestion_trigger/handler.py``: route an arriving file to
  its source by key prefix (detect_source:109-114), validate its CSV
  headers against the expected schema with the shared normalization
  regex (validate_csv_headers:117-178, the SYNC'd ``[.\\s/()]+``
  rule = ``sources.csv_source.snake_case``), alert on schema drift
  with a per-source cooldown (79-107), skip recently-processed files
  (is_recently_processed:208-218), and log every ingestion
  (log_ingestion:179-193).
- ``lambda/pipeline_orchestrator/handler.py:92-131``: chain
  Silver → Gold → catalog → morning briefing, stopping at the first
  failed stage with a status body.

In the reference these are AWS process boundaries (S3 events, Glue
jobs, crawlers, SNS); in one Spark application they are function
calls, so the orchestration collapses to routing + validation +
stage chaining with per-stage status — the part a user actually
depends on.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import SparkSession

from bio_lakehouse_spark.sources.csv_source import (
    sniff_delimiter,
    snake_case,
)

# Expected NORMALIZED headers per source prefix (subset the
# normalizers require — reference EXPECTED_HEADERS,
# ingestion_trigger/handler.py:32-78; ours reflect this repo's bronze
# fixtures).
EXPECTED_HEADERS: dict[str, list[str]] = {
    "oura/readiness": ["id", "day", "score", "timestamp"],
    "oura/sleep": ["id", "day", "score", "timestamp"],
    "oura/activity": ["id", "day", "score", "timestamp"],
    "peloton": [
        "workout_timestamp", "fitness_discipline", "total_output",
        "calories_burned",
    ],
    "healthkit/workouts": [
        "date", "workout_type", "duration_minutes", "calories_burned",
    ],
    "mfp": ["date", "meal", "calories", "protein_g"],
}

DRIFT_COOLDOWN_SECONDS = 6 * 3600
PROCESS_COOLDOWN_SECONDS = 300

_drift_alerted: dict[str, float] = {}
_processed: dict[str, float] = {}


def detect_source(path: str) -> str:
    """Source prefix from the file path (ref handler.py:109-114)."""
    for prefix in EXPECTED_HEADERS:
        if prefix in str(path):
            return prefix
    return "unknown"


def validate_csv_headers(
    path: str | Path,
    source: str,
    alert_sink=None,
    now: float | None = None,
) -> dict:
    """Read the first header LINE (readline, not a fixed byte budget —
    a >1 KB header row truncated mid-column used to yield spurious
    missing/unexpected headers and a false drift alert), normalize
    headers with the SAME rule the normalizers use (``snake_case`` ≡
    the reference's SYNC'd ``[.\\s/()]+`` regex), compare against the
    source's expected set, and fire a cooldown-deduped drift alert for
    unexpected new columns (ref handler.py:117-178)."""
    now = time.time() if now is None else now
    try:
        with open(path, "rb") as fh:
            # 1 MiB line cap: enough for any real header row, still
            # bounded if someone points this at a headerless blob.
            first_line = (
                fh.readline(1024 * 1024).decode("utf-8", errors="replace")
                .rstrip("\r\n").strip()
            )
        try:
            delim = sniff_delimiter(path)
        except Exception:  # noqa: BLE001 — sniffing is best-effort
            delim = ";" if ";" in first_line and "," not in first_line else ","
        headers = [snake_case(h) for h in first_line.split(delim)]
        expected = set(EXPECTED_HEADERS.get(source, []))
        found = set(headers)
        missing = sorted(expected - found)
        unexpected = sorted(found - expected)
        if unexpected and alert_sink is not None:
            last = _drift_alerted.get(source)
            if last is None or now - last >= DRIFT_COOLDOWN_SECONDS:
                alert_sink(
                    f"Schema drift detected: {source}",
                    f"File: {path}\nNew columns found: {unexpected}\n"
                    f"Expected columns: {sorted(expected)}",
                )
                _drift_alerted[source] = now
        return {
            "valid": not missing,
            "headers_found": headers,
            "missing_headers": missing,
            "unexpected_headers": unexpected,
            "header_count": len(headers),
        }
    except OSError as exc:
        return {
            "valid": False, "error": str(exc), "headers_found": [],
            "missing_headers": [], "unexpected_headers": [],
            "header_count": 0,
        }


def is_recently_processed(
    path: str, cooldown_seconds: int = PROCESS_COOLDOWN_SECONDS,
    now: float | None = None,
) -> bool:
    """Debounce duplicate arrival events (ref handler.py:208-218):
    True if this path was routed within the cooldown window."""
    now = time.time() if now is None else now
    last = _processed.get(str(path))
    if last is not None and now - last < cooldown_seconds:
        return True
    _processed[str(path)] = now
    return False


def route_file(
    path: str | Path,
    alert_sink=None,
    now: float | None = None,
) -> dict:
    """The ingestion-trigger decision for one arriving file: detect
    source, debounce, header-validate; returns the routing verdict a
    scheduler would act on (which normalizer, or skip + why)."""
    source = detect_source(str(path))
    if source == "unknown":
        return {"action": "skip", "reason": "unknown_source",
                "source": source}
    if is_recently_processed(str(path), now=now):
        return {"action": "skip", "reason": "recently_processed",
                "source": source}
    check = validate_csv_headers(path, source, alert_sink, now=now)
    if not check["valid"]:
        return {"action": "skip", "reason": "invalid_headers",
                "source": source, "validation": check}
    return {"action": "ingest", "source": source, "validation": check}


def run_daily_pipeline(
    spark: SparkSession,
    bronze_root: str,
    silver_root: str,
    gold_root: str | None = None,
    briefing_path: str | None = None,
    as_of: str | None = None,
) -> dict:
    """Silver → Gold → views → briefing, stopping at the first failed
    stage (ref pipeline_orchestrator/handler.py:92-131). Returns
    {status, stages: [{stage, ok, seconds, detail}]} — the Lambda's
    statusCode/body, minus the process boundaries."""
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.bio.silver import run_silver
    from bio_lakehouse_spark.bio.views import register_views
    from bio_lakehouse_spark.products import briefing as B

    stages: list[dict] = []

    def run_stage(name: str, fn):
        t0 = time.perf_counter()
        try:
            detail = fn()
            stages.append({
                "stage": name, "ok": True,
                "seconds": round(time.perf_counter() - t0, 3),
                "detail": detail,
            })
            return True
        except Exception as exc:  # noqa: BLE001 — stage gate
            stages.append({
                "stage": name, "ok": False,
                "seconds": round(time.perf_counter() - t0, 3),
                "detail": f"{type(exc).__name__}: {exc}"[:300],
            })
            return False

    state: dict = {}

    # Silver hands its written schemas on in-process, so the stages
    # after it read silver without inferring a schema.
    def silver():
        state["silver"] = run_silver(spark, bronze_root, silver_root)
        return f"silver written to {silver_root}"

    def gold():
        state["gold"] = build_gold(
            spark, silver_root, gold_root, silver_schemas=state["silver"]
        )
        return f"{len(state['gold'])} gold tables"

    def views():
        from bio_lakehouse_spark.bio.gold import pin_day_grain, stg_sleep

        # Pinned like gold, so no view re-scans silver parquet per
        # request (sleep_architecture joins the two).
        stg_sleep_df = pin_day_grain(stg_sleep(
            spark.read.schema(state["silver"]["oura_daily_sleep"])
            .parquet(f"{silver_root}/oura_daily_sleep")
        ))
        names = register_views(
            spark, state["gold"]["gold_daily_rollup"], stg_sleep_df
        )
        return f"{len(names)} views registered"

    def brief():
        date_str, bullets = B.build_briefing(
            state["gold"]["gold_daily_rollup"], as_of=as_of
        )
        text = B.render_briefing(date_str, bullets, as_of=as_of)
        if briefing_path:
            B.publish_briefing(text, briefing_path)
        state["briefing"] = bullets
        return f"{len(bullets)} bullets (latest {date_str})"

    for name, fn in (
        ("silver", silver), ("gold", gold), ("views", views),
        ("briefing", brief),
    ):
        if not run_stage(name, fn):
            return {"status": "failed", "failed_stage": name,
                    "stages": stages}
    return {"status": "complete", "stages": stages}


_DATE_COLS = ("day", "date", "workout_date")


# Sparse-by-nature sources lag without being broken: weigh-ins,
# mindfulness sessions and workouts don't happen daily.
DEFAULT_AGE_OVERRIDES: dict[str, int] = {
    "healthkit_body": 7,
    "healthkit_mindfulness": 7,
    "healthkit_workouts": 7,
}


def check_pipeline_health(
    spark: SparkSession,
    silver_root: str,
    gold_root: str | None = None,
    as_of: str | None = None,
    max_age_days: int = 2,
    age_overrides: dict[str, int] | None = None,
) -> dict:
    """Pipeline health check (ref scripts/check_pipeline_health.sh +
    the briefing's freshness guard, done at the DATA level instead of
    log-grepping): per-table latest date + row count, flagged stale
    when more than ``max_age_days`` behind ``as_of``
    (``age_overrides`` per table for sparse-by-nature sources,
    default ``DEFAULT_AGE_OVERRIDES``). The per-table probe is a MAX
    aggregate over the date column — column-pruned,
    partial-aggregated, one tiny row back per table."""
    from datetime import date as _date

    from pyspark.sql import functions as F

    today = _date.fromisoformat(as_of) if as_of else _date.today()
    tables: dict[str, dict] = {}
    roots = [("silver", p) for p in sorted(Path(silver_root).iterdir())
             if p.is_dir()]
    if gold_root and Path(gold_root).exists():
        roots += [("gold", p) for p in sorted(Path(gold_root).iterdir())
                  if p.is_dir()]
    for layer, p in roots:
        name = f"{layer}.{p.name}"
        try:
            df = spark.read.parquet(str(p))
            col = next((c for c in _DATE_COLS if c in df.columns), None)
            if col is not None:
                row = df.agg(
                    F.max(F.col(col).cast("date")).alias("latest"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
                latest, n = row["latest"], int(row["n"])
            else:
                latest, n = None, df.count()
            age = (today - latest).days if latest is not None else None
            overrides = (DEFAULT_AGE_OVERRIDES if age_overrides is None
                         else age_overrides)
            bound = overrides.get(p.name, max_age_days)
            tables[name] = {
                "rows": n,
                "latest": str(latest) if latest else None,
                "age_days": age,
                "stale": bool(age is not None and age > bound),
            }
        except Exception as exc:  # noqa: BLE001 — a broken table IS a finding
            tables[name] = {"error": f"{type(exc).__name__}: {exc}"[:200],
                            "stale": True}
    stale = sorted(k for k, v in tables.items() if v.get("stale"))
    return {"healthy": not stale, "stale_tables": stale, "tables": tables}
