"""Session sizing: the driver heap follows the host, and the generated-
code cache holds a working set larger than Spark's 100-entry default."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from bio_lakehouse_spark.session import driver_memory

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
