"""The schema a daily refresh publishes is the NL-to-SQL prompt: the
SQL facade hands ``QueryEngine.get_schema_ddl()`` to the model, so a
renamed, reordered or retyped column in gold or in any of the 11 views
changes what the model is told. This pins that text, plus the schemas
of the three gold tables as written, to a recorded copy in
``tests/golden/refresh_schema.ddl``.

The refresh runs in its own session and database, so that temp views
and tables other tests leave in the shared session do not show up in
the catalog listing."""

from __future__ import annotations

from pathlib import Path

BIO_ROOT = Path(__file__).resolve().parents[1] / ".fixtures" / "bio"
GOLDEN = Path(__file__).parent / "golden" / "refresh_schema.ddl"
GOLD_TABLES = (
    "gold_daily_rollup", "feature_readiness_daily", "workout_recovery_windows",
)


def refresh_schema_text(spark, work: Path) -> str:
    """Run the daily pipeline on the fixture bronze in a fresh session
    and render the catalog DDL, then the written gold tables' DDL."""
    from bio_lakehouse_spark.bio.fixtures import generate_bronze
    from bio_lakehouse_spark.engine.facade import QueryEngine
    from bio_lakehouse_spark.products.pipeline import run_daily_pipeline

    bronze = str(generate_bronze(BIO_ROOT / "bronze"))
    session = spark.newSession()
    session.sql("CREATE DATABASE IF NOT EXISTS refresh_schema_pin")
    session.catalog.setCurrentDatabase("refresh_schema_pin")
    try:
        res = run_daily_pipeline(
            session, bronze, str(work / "silver"), str(work / "gold"),
            str(work / "briefing.txt"), as_of="2025-10-29",
        )
        assert res["status"] == "complete", res
        parts = [QueryEngine(session).get_schema_ddl()]
        for table in GOLD_TABLES:
            fields = session.read.parquet(str(work / "gold" / table)).schema
            body = ",\n".join(
                f"  {f.name} {f.dataType.simpleString()}" for f in fields
            )
            parts.append(f"-- written: {table}\n(\n{body}\n);")
        return "\n\n".join(parts) + "\n"
    finally:
        session.catalog.setCurrentDatabase("default")
        session.sql("DROP DATABASE IF EXISTS refresh_schema_pin")


def test_refresh_schema_ddl_is_pinned(spark, tmp_path):
    assert refresh_schema_text(spark, tmp_path) == GOLDEN.read_text()
