"""``session.fan_out`` and the refresh stages that run through it: the
nine silver writes and the two gold window writes must write what a
one-at-a-time loop writes, with the same number of Spark jobs. Also
the refresh's driver work: jobs a carried schema saves, and py4j round
trips spent building the views."""

from __future__ import annotations

import threading
from functools import partial
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bio_lakehouse_spark.session import fan_out

BIO_ROOT = Path(__file__).resolve().parents[1] / ".fixtures" / "bio"

# Jobs the one-at-a-time loops ran on the fixture bronze before the
# stages fanned out; overlapping the jobs must not add or drop any.
# GOLD_JOBS infers the nine silver schemas from parquet footers, one
# job each; the rollup it writes is read back with the written schema
# and pinned in one job, after which the window writes run no shuffle.
# SILVER_JOBS was 28 while each header-grouped and Peloton CSV read ran
# a job to read its header, and 23 while each of the four HealthKit
# trees and the MFP tree ran one too; every read now takes the schema
# from a header line the driver reads.
SILVER_JOBS = 18
GOLD_JOBS = 28
# py4j round trips allowed for publishing gold and the 11 views; built
# call by call as DataFrames they took ~9.1k.
REGISTER_VIEWS_PY4J = 400
# ... and for building and writing the nine silver tables, one SQL
# statement each; built column by column they took ~6.9k.
RUN_SILVER_PY4J = 1000


def _order(spark, count_jobs):
    # Call i waits for call i+1 to finish, so they finish in reverse.
    n = 4
    finished = [threading.Event() for _ in range(n + 1)]
    finished[n].set()
    order: list[int] = []

    def call(i: int) -> int:
        assert finished[i + 1].wait(timeout=60)
        order.append(i)
        finished[i].set()
        return 10 * i

    assert fan_out([partial(call, i) for i in range(n)]) == [0, 10, 20, 30]
    assert order == [3, 2, 1, 0]


def _empty(spark, count_jobs):
    assert fan_out([]) == []


def _failure(spark, count_jobs):
    # The later call fails first in time; the earlier one's error wins.
    later_failed = threading.Event()
    ran: list[str] = []

    def first():
        assert later_failed.wait(timeout=60)
        raise KeyError("first")

    def later():
        later_failed.set()
        raise ValueError("later")

    with pytest.raises(KeyError, match="first"):
        fan_out([lambda: ran.append("ok"), first, later])
    assert ran == ["ok"]


def _job_group(spark, count_jobs):
    groups: list[str] = []
    sc = spark.sparkContext

    def job() -> int:
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return spark.range(10).count()

    one = count_jobs(job)
    assert count_jobs(lambda: fan_out([job, job, job])) == 3 * one > 0
    # every worker call saw the group count_jobs set around fan_out
    assert len(set(groups[1:])) == 1 and groups[1] != groups[0]


def _active_session(spark, count_jobs):
    def active():
        return SparkSession.getActiveSession()._jsparkSession

    assert all(s.equals(spark._jsparkSession)
               for s in fan_out([active, active]))


@pytest.mark.parametrize(
    "case", [_order, _empty, _failure, _job_group, _active_session],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_fan_out(spark, count_jobs, case):
    case(spark, count_jobs)


def _digest(df) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


@pytest.fixture(scope="module")
def silver_ref(spark, tmp_path_factory):
    """Silver written by calling the normalizers one at a time."""
    from bio_lakehouse_spark.bio.fixtures import generate_bronze
    from bio_lakehouse_spark.bio.silver import SILVER_TABLES
    from bio_lakehouse_spark.sources.sinks import write_partitioned_parquet

    bronze = str(generate_bronze(BIO_ROOT / "bronze"))
    root = tmp_path_factory.mktemp("silver_ref")
    schemas = {
        table: write_partitioned_parquet(
            fn(spark, bronze), str(root / table), ["year", "month"]
        )
        for table, fn in SILVER_TABLES.items()
    }
    return bronze, root, schemas


def test_run_silver_matches_sequential_loop(spark, count_jobs, silver_ref,
                                            tmp_path):
    from bio_lakehouse_spark.bio.silver import SILVER_TABLES, run_silver

    bronze, ref, _ = silver_ref
    out: dict = {}
    jobs = count_jobs(
        lambda: out.update(run_silver(spark, bronze, str(tmp_path)))
    )
    assert jobs == SILVER_JOBS
    assert list(out) == list(SILVER_TABLES)
    for table, schema in out.items():
        path = str(tmp_path / table)
        inferred = spark.read.parquet(path)
        # The returned schema reads back exactly what inference gives.
        assert spark.read.schema(schema).parquet(path).schema == inferred.schema
        assert _digest(inferred) == _digest(
            spark.read.parquet(str(ref / table))
        ), table


def test_build_gold_writes_what_it_returns(spark, count_jobs, silver_ref,
                                           tmp_path):
    from bio_lakehouse_spark.bio.gold import build_gold

    gold: dict = {}
    jobs = count_jobs(
        lambda: gold.update(build_gold(spark, str(silver_ref[1]), str(tmp_path)))
    )
    assert jobs == GOLD_JOBS
    rollup = str(tmp_path / "gold_daily_rollup")
    assert gold["gold_daily_rollup"].schema == spark.read.parquet(rollup).schema
    for table in ("feature_readiness_daily", "workout_recovery_windows"):
        assert _digest(spark.read.parquet(str(tmp_path / table))) == _digest(
            gold[table]
        ), table


def test_build_gold_with_written_schemas_skips_inference(
    spark, count_jobs, silver_ref, tmp_path
):
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.bio.silver import SILVER_TABLES

    _, root, schemas = silver_ref
    carried: dict = {}
    jobs = count_jobs(lambda: carried.update(
        build_gold(spark, str(root), str(tmp_path / "carried"),
                   silver_schemas=schemas)
    ))
    # One footer-inference job fewer per silver table.
    assert jobs == GOLD_JOBS - len(SILVER_TABLES)
    inferred = build_gold(spark, str(root), str(tmp_path / "inferred"))
    for table, df in carried.items():
        assert df.schema == inferred[table].schema, table
        assert _digest(df) == _digest(inferred[table]), table


def test_register_views_driver_round_trips(spark, count_py4j, silver_ref):
    from bio_lakehouse_spark.bio.gold import build_gold, stg_sleep
    from bio_lakehouse_spark.bio.views import register_views

    _, root, _ = silver_ref
    gold = build_gold(spark, str(root))["gold_daily_rollup"]
    sleep = stg_sleep(spark.read.parquet(str(root / "oura_daily_sleep")))
    names: list[str] = []
    calls = count_py4j(
        lambda: names.extend(register_views(spark, gold, sleep))
    )
    assert len(names) == 12
    assert calls <= REGISTER_VIEWS_PY4J, calls


def test_run_silver_driver_round_trips(spark, count_py4j, silver_ref,
                                       tmp_path):
    from bio_lakehouse_spark.bio.silver import run_silver

    bronze = silver_ref[0]
    run_silver(spark, bronze, str(tmp_path / "warm"))
    calls = count_py4j(lambda: run_silver(spark, bronze, str(tmp_path / "out")))
    assert calls <= RUN_SILVER_PY4J, calls
