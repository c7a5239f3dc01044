"""Day-grain gold is pinned (``bio.gold.pin_day_grain``): one in-memory
partition that the window tables, the 11 views and the weekly report
read instead of re-scanning parquet; the views' ``stg_sleep`` input is
pinned the same way. One partition satisfies every
required distribution, so none of them may plan a shuffle; and the
report over pinned frames must equal the report over plain parquet
frames while running fewer Spark jobs."""

from __future__ import annotations

import re
from pathlib import Path

import pandas as pd
import pytest

BIO_ROOT = Path(__file__).resolve().parents[1] / ".fixtures" / "bio"
# Jobs of the report on the fixture refresh, reads included: 51 when
# every analyzer re-scanned parquet and shuffled for its windows, 30
# when they ran their own Spark jobs over pinned inputs. Now: the two
# footer reads of gold and the windows, the gold pin, the seven
# fetched inputs and the broadcasts of the two join views.
REPORT_JOBS = 12
# py4j round trips of default_analyzers + generate; ~5.5k when the
# analyzers built their own Spark frames.
REPORT_PY4J = 600
_SHUFFLE = re.compile(
    r"Exchange (hashpartitioning|SinglePartition|rangepartitioning)"
)


def _shuffles(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return _SHUFFLE.findall(plan)


@pytest.fixture(scope="module")
def refreshed(spark, tmp_path_factory):
    """The daily pipeline on the fixture bronze, in its own session so
    its temp views are the ones under test."""
    from bio_lakehouse_spark.bio.fixtures import generate_bronze
    from bio_lakehouse_spark.products.pipeline import run_daily_pipeline

    work = tmp_path_factory.mktemp("pinned_refresh")
    session = spark.newSession()
    res = run_daily_pipeline(
        session, str(generate_bronze(BIO_ROOT / "bronze")),
        str(work / "silver"), str(work / "gold"), str(work / "briefing.txt"),
        as_of="2025-10-29",
    )
    assert res["status"] == "complete", res
    return session, work


def test_gold_consumers_plan_no_shuffle(refreshed):
    from bio_lakehouse_spark.bio.gold import (
        feature_readiness_daily,
        workout_recovery_windows,
    )
    from bio_lakehouse_spark.bio.views import VIEWS

    session, _ = refreshed
    rollup = session.table("gold_daily_rollup")
    views = [*VIEWS, "sleep_architecture"]
    assert len(views) == 11
    frames = {name: session.table(name) for name in views}
    frames["feature_readiness_daily"] = feature_readiness_daily(rollup)
    frames["workout_recovery_windows"] = workout_recovery_windows(rollup)
    shuffles = {n: _shuffles(df) for n, df in frames.items()}
    assert not any(shuffles.values()), shuffles
    # Every view reads pinned frames only, none re-scans parquet.
    scans = [n for n in views if "FileScan" in
             frames[n]._jdf.queryExecution().executedPlan().toString()]
    assert scans == [], scans
    assert rollup.rdd.getNumPartitions() == 1


def test_pinned_empty_frame_is_one_partition(spark):
    from bio_lakehouse_spark.bio.gold import pin_day_grain

    pinned = pin_day_grain(
        spark.range(0).selectExpr("CAST(id AS STRING) AS date")
    )
    assert pinned.rdd.getNumPartitions() == 1
    windowed = pinned.selectExpr("date", "lag(date) OVER (ORDER BY date)")
    assert windowed.collect() == [] and not _shuffles(windowed)


def _report(session, work: Path):
    from bio_lakehouse_spark.products import insights

    analyzers = insights.default_analyzers(
        session,
        session.read.parquet(str(work / "gold" / "gold_daily_rollup")),
        silver_root=str(work / "silver"),
        recovery_windows=session.read.parquet(
            str(work / "gold" / "workout_recovery_windows")
        ),
    )
    return insights.WeeklyReportGenerator(analyzers).generate("pin")


def test_pinned_report_equals_unpinned(refreshed, monkeypatch):
    from bio_lakehouse_spark.bio import gold

    session, work = refreshed
    html, results = _report(session, work)
    with monkeypatch.context() as m:
        m.setattr(gold, "pin_day_grain", lambda df: df)
        plain_html, plain = _report(session, work)
    assert len(results) == 13
    for got, want in zip(results, plain):
        assert (got.name, got.statistics, got.narrative, got.caveats) == (
            want.name, want.statistics, want.narrative, want.caveats
        ), got.name
        if want.data is None:
            assert got.data is None, got.name
        else:
            pd.testing.assert_frame_equal(got.data, want.data, obj=got.name)
    assert html == plain_html


def test_report_job_count(spark, count_jobs, refreshed):
    session, work = refreshed
    jobs = count_jobs(lambda: _report(session, work))
    assert jobs <= REPORT_JOBS, jobs


def test_report_driver_round_trips(count_py4j, refreshed):
    from bio_lakehouse_spark.products import insights

    session, work = refreshed
    gold = session.read.parquet(str(work / "gold" / "gold_daily_rollup"))
    windows = session.read.parquet(
        str(work / "gold" / "workout_recovery_windows")
    )

    def report():
        analyzers = insights.default_analyzers(
            session, gold, silver_root=str(work / "silver"),
            recovery_windows=windows,
        )
        insights.WeeklyReportGenerator(analyzers).generate("pin")

    report()
    calls = count_py4j(report)
    assert calls <= REPORT_PY4J, calls
