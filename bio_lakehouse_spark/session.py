"""SparkSession factory.

One place to configure the engine the way we'd run it on a real
cluster: AQE on (runtime re-planning, skew-join splitting, dynamic
coalescing of shuffle partitions), broadcast threshold generous enough
that dimension tables broadcast, Arrow enabled for the pandas-UDF slow
path. Tests run ``local[N]``; on a cluster only ``master`` changes —
the per-query code never assumes local mode.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import TypeVar

from pyspark import SparkContext, inheritable_thread_target
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
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

# --- Class-data sharing for the driver JVM ---------------------------
#
# Session start is almost all JVM start-up: parsing and verifying the
# ~6k classes Spark loads before the gateway answers. A dynamic AppCDS
# archive holds those classes pre-parsed; a JVM started with
# ``-XX:SharedArchiveFile`` maps it instead of loading each class
# (session start 5.9 → 3.0 s on a 4-core host). The archive depends on
# the host's JDK and Spark jars, not on the checkout, so it lives in the
# user's cache directory, one per key, and is built the first time a
# session is launched with that key.
#
# The JDK refuses to dump an archive while a non-empty directory is on
# the class path, and Spark's launcher always puts the conf directory
# there. When that directory holds nothing but templates, the launch
# points SPARK_CONF_DIR at an empty directory instead, which the
# launcher sees as the same (empty) configuration. A real conf file is
# never hidden: it means no archive.

_CDS_QUIET = "-Xlog:cds*=off"  # the dump logs a warning per signed jar
_CDS_ARCHIVE = "driver.jsa"
_CDS_FAILED = "failed"  # marker: the build failed once for this key
_CDS_LOCK = "build.lock"
_CDS_LOCK_STALE_S = 900.0  # a lock this old belongs to a dead builder
_CDS_BUILD_TIMEOUT_S = 600.0

# Run in a child process: start a session the way get_spark launches
# one, run one tiny job, stop, and exit with the JVM's status. The JVM
# writes the archive while it exits.
_CDS_DUMP = """
import json, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
builder = SparkSession.builder
for key, value in json.loads(sys.argv[1]).items():
    builder = builder.config(key, value)
spark = builder.getOrCreate()
spark.range(1000).count()
gateway = SparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
sys.exit(proc.wait())
"""


def _cds_cache_root() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return Path(base) / "bio_lakehouse_spark" / "cds"


def _cds_key(spark_home: str) -> str | None:
    """Hash of what the archive's classes come from: the ``java`` that
    ``spark-class`` runs (``$JAVA_HOME/bin/java``, else the one on
    PATH), its ``lib/modules`` image and ``$SPARK_HOME/jars``. None if
    either is missing. Starts no process."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = Path(spark_home) / "jars"
    if not java or not os.path.isfile(java) or not jars.is_dir():
        return None
    java = os.path.realpath(java)
    try:
        modules = os.stat(Path(java).parents[1] / "lib" / "modules")
    except OSError:
        return None
    entries = [java, modules.st_size, modules.st_mtime_ns]
    for jar in sorted(jars.glob("*.jar")):
        st = jar.stat()
        entries.append([jar.name, st.st_size, st.st_mtime_ns])
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:16]


def _cds_key_dir(conf: dict[str, str]) -> Path | None:
    """The archive directory for this launch, or None when this call
    will not launch a JVM whose class path can be archived: a gateway
    already exists, or a directory the launcher puts on the class path
    holds more than templates."""
    if (SparkContext._gateway is not None
            or SparkContext._active_spark_context is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return None
    # Each adds entries (often directories) to the launcher's class path.
    if "spark.driver.extraClassPath" in conf or any(
            os.environ.get(var) for var in (
                "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                "SPARK_PREPEND_CLASSES", "SPARK_TESTING", "SPARK_SQL_TESTING")):
        return None
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return None
    spark_home = _find_spark_home()
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or Path(spark_home) / "conf")
    if conf_dir.is_dir() and any(
            not p.name.endswith(".template") for p in conf_dir.iterdir()):
        return None
    key = _cds_key(spark_home)
    return None if key is None else _cds_cache_root() / key


def _cds_build(key_dir: Path, conf: dict[str, str], archive: Path) -> bool:
    """Dump an archive to ``archive`` from a child session; True if the
    child exited 0 and left a non-empty file."""
    dump_conf = {
        "spark.master": "local[1]",
        "spark.app.name": "cds-dump",
        "spark.ui.enabled": "false",
        "spark.driver.memory": conf["spark.driver.memory"],
        "spark.driver.extraJavaOptions": _java_options(
            conf, f"-XX:ArchiveClassesAtExit={archive}"),
    }
    env = dict(os.environ, SPARK_CONF_DIR=str(key_dir / "conf"))
    with open(key_dir / "build.log", "wb") as log:
        try:
            proc = subprocess.run(
                [sys.executable, "-c", _CDS_DUMP, json.dumps(dump_conf)],
                cwd=key_dir, env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT,
                timeout=_CDS_BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return False
    return proc.returncode == 0 and archive.is_file() and archive.stat().st_size > 0


def _cds_archive(
    key_dir: Path,
    conf: dict[str, str],
    build: Callable[[Path, dict[str, str], Path], bool] = _cds_build,
) -> Path | None:
    """The published archive for ``key_dir``, building it first if
    there is none. None when the build failed before or fails now,
    another process is building it (this start does not wait), or the
    cache directory cannot be written."""
    archive = key_dir / _CDS_ARCHIVE
    size_file = key_dir / f"{_CDS_ARCHIVE}.size"
    lock = key_dir / _CDS_LOCK
    try:
        if archive.is_file():
            # A published archive whose size changed is damaged; a JVM
            # that maps a truncated one dies with SIGBUS.
            try:
                if archive.stat().st_size == int(size_file.read_text()):
                    return archive
            except ValueError:
                pass
            archive.unlink()
        if (key_dir / _CDS_FAILED).exists():
            return None
        (key_dir / "conf").mkdir(parents=True, exist_ok=True)
        if lock.exists() and time.time() - lock.stat().st_mtime > _CDS_LOCK_STALE_S:
            lock.unlink(missing_ok=True)
        os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except OSError:  # a build holds the lock, or the cache is unwritable
        return None
    try:
        if archive.is_file():  # published since the check above
            return archive
        tmp = key_dir / f"{_CDS_ARCHIVE}.{os.getpid()}.tmp"
        try:
            if not build(key_dir, conf, tmp):
                (key_dir / _CDS_FAILED).touch()
                return None
            size_file.write_text(str(tmp.stat().st_size))
            os.replace(tmp, archive)
        finally:
            tmp.unlink(missing_ok=True)
        return archive
    except OSError:  # e.g. the disk filled while publishing
        return None
    finally:
        lock.unlink(missing_ok=True)


def _java_options(conf: dict[str, str], *flags: str) -> str:
    """``spark.driver.extraJavaOptions`` with the archive flags added
    after the caller's own."""
    return " ".join([conf.get("spark.driver.extraJavaOptions", ""),
                     *flags, _CDS_QUIET]).strip()


def _create(app_name: str, master: str, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark(
    app_name: str = "bio-lakehouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the driver's bench and pytest share one code path.

    When this call launches the driver JVM, it starts it from the
    host's class-data-sharing archive (building that once per JDK and
    Spark install, see ``_cds_key_dir``). Without a usable archive the
    launch is the plain one.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
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
    key_dir = _cds_key_dir(conf)
    archive = None if key_dir is None else _cds_archive(key_dir, conf)
    if archive is None:
        return _create(app_name, master, conf)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(key_dir / "conf")
    try:
        return _create(app_name, master, {
            **conf,
            "spark.driver.extraJavaOptions": _java_options(
                conf, f"-XX:SharedArchiveFile={archive}"),
        })
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # The JVM died before the gateway came up: drop the archive,
        # keep this key from building another, and launch without it.
        archive.unlink(missing_ok=True)
        (key_dir / _CDS_FAILED).touch()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    return _create(app_name, master, conf)


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
    # Resolved once: each step of a ``_jvm`` path is a round trip.
    jsession_class = spark._jvm.org.apache.spark.sql.SparkSession

    def task(fn: Callable[[], _T]) -> Callable[[], _T]:
        def run() -> _T:
            jsession_class.setActiveSession(jsession)
            return fn()

        # Wrapping here, in the caller's thread, snapshots its local
        # properties; one snapshot per call, so a call that sets its
        # own job group does not change its siblings'.
        return inheritable_thread_target(spark)(run)

    workers = min(len(fns), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(task(fn)) for fn in fns]
    return [f.result() for f in futures]
