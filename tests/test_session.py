"""Session sizing: the driver heap follows the host, and the generated-
code cache holds a working set larger than Spark's 100-entry default.
Session start: the driver JVM starts from the host's class-data-sharing
archive when there is a usable one, and exactly as before when not."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from bio_lakehouse_spark import session
from bio_lakehouse_spark.session import driver_memory

ROOT = Path(__file__).resolve().parents[1]

GiB_KB = 1024 * 1024


def _meminfo(tmp_path: Path, kb: int) -> str:
    path = tmp_path / f"meminfo_{kb}"
    path.write_text(f"MemTotal:       {kb} kB\nMemFree:        {kb // 2} kB\n")
    return str(path)


def test_driver_memory_is_half_of_memtotal_capped(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, 16_479_424)) == "7g"
    assert driver_memory(_meminfo(tmp_path, 32 * GiB_KB)) == "16g"
    assert driver_memory(_meminfo(tmp_path, 128 * GiB_KB)) == "24g"
    assert driver_memory(_meminfo(tmp_path, GiB_KB)) == "1g"
    assert driver_memory(str(tmp_path / "absent")) == "24g"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(tmp_path, 128 * GiB_KB)) == "3g"


def test_codegen_cache_keeps_a_repeated_working_set(spark):
    # Each projection inlines its literal, so each is a distinct
    # generated class: 150 of them overflow a 100-entry cache, which
    # then recompiles every one on the second round. The literals are
    # ones no other test uses, so the first round cannot hit the cache.
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    queries = [spark.range(1).select((F.col("id") + F.lit(i)).alias("v"))
               for i in range(1_000_003, 1_000_153)]
    compiles = []
    for _ in range(2):
        before = timer.getCount()
        for df in queries:
            df.collect()
        compiles.append(timer.getCount() - before)
    assert compiles[0] >= len(queries)
    assert compiles[1] == 0


# --- class-data-sharing archive --------------------------------------

_CONF = {"spark.driver.memory": "1g"}


def _fake_build(calls: list | None = None, ok: bool = True, delay: float = 0.0):
    def build(key_dir: Path, conf: dict, archive: Path) -> bool:
        if calls is not None:
            calls.append(archive)
        time.sleep(delay)
        if ok:
            archive.write_bytes(b"archive")
        return ok
    return build


@pytest.fixture
def no_gateway(monkeypatch):
    """Make ``_cds_key_dir`` see a process that has not launched a JVM."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)


def _fake_install(root: Path) -> tuple[Path, Path]:
    java_home, spark_home = root / "jdk", root / "spark"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "lib").mkdir()
    (java_home / "bin" / "java").write_text("")
    (java_home / "lib" / "modules").write_bytes(b"m" * 10)
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"j")
    return java_home, spark_home


def test_key_follows_the_jdk_and_the_jars(tmp_path, monkeypatch):
    java_home, spark_home = _fake_install(tmp_path)
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    key = session._cds_key(str(spark_home))
    assert key is not None and key == session._cds_key(str(spark_home))
    (spark_home / "jars" / "a.jar").write_bytes(b"jj")
    jar_key = session._cds_key(str(spark_home))
    assert jar_key not in (None, key)
    (java_home / "lib" / "modules").write_bytes(b"m" * 11)
    assert session._cds_key(str(spark_home)) not in (None, key, jar_key)
    (java_home / "lib" / "modules").unlink()
    assert session._cds_key(str(spark_home)) is None


def test_key_dir_only_for_a_template_only_class_path(tmp_path, monkeypatch, no_gateway):
    java_home, spark_home = _fake_install(tmp_path)
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    key_dir = session._cds_key_dir({})
    assert key_dir == (tmp_path / "cache" / "bio_lakehouse_spark" / "cds"
                       / session._cds_key(str(spark_home)))
    assert session._cds_key_dir({"spark.driver.extraClassPath": "/x"}) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert session._cds_key_dir({}) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    (spark_home / "conf" / "log4j2.properties").write_text("")
    assert session._cds_key_dir({}) is None
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "empty"))
    assert session._cds_key_dir({}) == key_dir


def test_missing_archive_is_built_once_and_published(tmp_path):
    calls: list = []
    archive = session._cds_archive(tmp_path, _CONF, _fake_build(calls))
    assert archive == tmp_path / "driver.jsa" and archive.read_bytes() == b"archive"
    assert session._cds_archive(tmp_path, _CONF, _fake_build(calls)) == archive
    assert len(calls) == 1 and not calls[0].exists()  # built to a temp name
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "conf", "driver.jsa", "driver.jsa.size"]


def test_failed_build_leaves_a_marker_and_no_archive(tmp_path):
    calls: list = []
    assert session._cds_archive(tmp_path, _CONF, _fake_build(calls, ok=False)) is None
    assert session._cds_archive(tmp_path, _CONF, _fake_build(calls)) is None
    assert len(calls) == 1
    assert (tmp_path / "failed").exists() and not (tmp_path / "driver.jsa").exists()
    assert not list(tmp_path.glob("*.tmp"))


def test_truncated_archive_is_never_used(tmp_path):
    session._cds_archive(tmp_path, _CONF, _fake_build())
    (tmp_path / "driver.jsa").write_bytes(b"arch")
    assert session._cds_archive(tmp_path, _CONF, _fake_build(ok=False)) is None
    assert not (tmp_path / "driver.jsa").exists()


def test_unwritable_cache_starts_without_an_archive(tmp_path):
    (tmp_path / "cache").write_text("a file where the cache directory goes")
    calls: list = []
    assert session._cds_archive(tmp_path / "cache" / "key", _CONF,
                                _fake_build(calls)) is None
    assert calls == []


def test_a_build_in_progress_is_not_waited_for(tmp_path):
    (tmp_path / "build.lock").touch()
    calls: list = []
    assert session._cds_archive(tmp_path, _CONF, _fake_build(calls)) is None
    assert calls == []
    # A lock left by a builder that died long ago does not block forever.
    old = time.time() - 2 * session._CDS_LOCK_STALE_S
    os.utime(tmp_path / "build.lock", (old, old))
    assert session._cds_archive(tmp_path, _CONF, _fake_build(calls)) is not None
    assert len(calls) == 1 and not (tmp_path / "build.lock").exists()


def test_concurrent_first_starts_publish_one_archive(tmp_path):
    calls: list = []
    build = _fake_build(calls, delay=0.3)
    n = 2 * (os.cpu_count() or 2)
    barrier = threading.Barrier(n)
    results: list = [None] * n

    def start(i: int) -> None:
        barrier.wait(timeout=10)
        results[i] = session._cds_archive(tmp_path, _CONF, build)

    threads = [threading.Thread(target=start, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert sorted(p.name for p in tmp_path.glob("driver.jsa*")) == [
        "driver.jsa", "driver.jsa.size"]
    assert results.count(tmp_path / "driver.jsa") >= 1
    assert set(results) <= {None, tmp_path / "driver.jsa"}


def _live_key_dir() -> Path | None:
    """The archive directory a fresh process on this host would use."""
    saved = SparkContext._gateway, SparkContext._active_spark_context
    SparkContext._gateway = SparkContext._active_spark_context = None
    try:
        return session._cds_key_dir({})
    finally:
        SparkContext._gateway, SparkContext._active_spark_context = saved


def test_spark_fixture_starts_from_the_archive(spark):
    key_dir = _live_key_dir()
    if key_dir is None or (key_dir / "failed").exists():
        pytest.skip("no usable class-data-sharing archive on this host")
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert f"-XX:SharedArchiveFile={key_dir / 'driver.jsa'}" in args


_START = """
import json, os
from bio_lakehouse_spark.session import get_spark
spark = get_spark("cds-test", master="local[1]")
jvm = spark._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.conf.get("spark.bio.probe", None),
    "rows": spark.range(3).count(),
}))
"""


def _start_in_child(cwd: Path, **env: str) -> dict:
    full = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", **env)
    full["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    out = subprocess.run([sys.executable, "-c", _START], cwd=cwd, env=full,
                         stdin=subprocess.DEVNULL, capture_output=True,
                         text=True, timeout=300, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_real_conf_dir_gets_no_archive_and_is_not_hidden(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.bio.probe  kept\n")
    got = _start_in_child(tmp_path, SPARK_CONF_DIR=str(conf_dir),
                          XDG_CACHE_HOME=str(tmp_path / "cache"))
    assert not any("SharedArchiveFile" in a or "ArchiveClasses" in a
                   for a in got["args"])
    assert got["jvm_conf_dir"] == got["conf_dir"] == str(conf_dir)
    assert got["probe"] == "kept" and got["rows"] == 3
    assert not (tmp_path / "cache").exists()


def test_archive_that_kills_the_jvm_falls_back_to_a_plain_start(tmp_path, spark):
    # A truncated archive whose recorded size was damaged with it: the
    # JVM maps it and dies with SIGBUS before the gateway comes up.
    key_dir = _live_key_dir()
    if key_dir is None or not (key_dir / "driver.jsa").is_file():
        pytest.skip("no class-data-sharing archive on this host")
    cache = tmp_path / "cache"
    bad_dir = cache / "bio_lakehouse_spark" / "cds" / key_dir.name
    (bad_dir / "conf").mkdir(parents=True)
    half = (key_dir / "driver.jsa").stat().st_size // 2
    with open(key_dir / "driver.jsa", "rb") as src:
        (bad_dir / "driver.jsa").write_bytes(src.read(half))
    (bad_dir / "driver.jsa.size").write_text(str(half))
    got = _start_in_child(tmp_path, XDG_CACHE_HOME=str(cache))
    assert not any("SharedArchiveFile" in a for a in got["args"])
    assert got["rows"] == 3 and got["conf_dir"] == os.environ.get("SPARK_CONF_DIR")
    assert not (bad_dir / "driver.jsa").exists() and (bad_dir / "failed").exists()
