"""Sinks (S12-S15): partitioned parquet, CTAS tables, append-only logs.

The reference's Silver writers are ``write.mode("overwrite")
.partitionBy("year","month").parquet(...)`` (oura_normalizer.py:295);
Gold is drop-and-CTAS through Athena (dbt_gold_refresh.py:64-99). Here
both are native Spark writes; the audit/query logs (DynamoDB/SQLite in
the reference) become append-only parquet tables.
"""

from __future__ import annotations

import os as _os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 16,
    bits: int = 8,
) -> None:
    """Two-column Z-order clustered parquet — the plain-parquet analog
    of Delta/Iceberg ``OPTIMIZE ZORDER BY (a, b)`` (Morton-curve
    interleaving; public technique, e.g. the Delta Lake OPTIMIZE
    docs and the classic Z-order curve literature).

    A single-key sort (``write_sorted_parquet``) gives perfect
    row-group skipping on ONE column and none on the other. Z-order
    interleaves the bit-ranks of both keys, so every file/row-group
    covers a ~square tile of the 2-D key space: a range predicate on
    EITHER column prunes ~1−1/√F of F files via footer min/max stats.

    Rank normalization is sample-based (``approxQuantile`` with 2^bits
    cuts — one tiny driver-side array, the same sampling contract
    ``repartitionByRange`` uses), so skew in either key cannot
    concentrate the curve; the z-value itself is a pure per-row
    expression (width_bucket + bit interleave), scan-level at any
    scale.
    """
    from pyspark.sql import functions as F

    nbuckets = 1 << bits
    cuts = [i / nbuckets for i in range(1, nbuckets)]
    bounds = {
        c: df.approxQuantile(c, cuts, 0.01)
        if dict(df.dtypes)[c] in ("int", "bigint", "double", "float")
        else None
        for c in (col_a, col_b)
    }

    def bucket(c: str):
        b = bounds[c]
        if b is not None:
            # width via the sampled quantile boundaries → ~equal-count
            # buckets even under skew. array_position returns 0 (not
            # NULL) when no boundary matches — values above the top
            # cut, and NULL keys (every `<=` is NULL) — so the
            # top-bucket fallback must test `pos > 0`, not coalesce:
            # the old coalesce produced bucket -1, which only
            # interleaved correctly because -1's two's-complement
            # bits are all ones (r11 HOF/edge audit).
            arr = F.array(*[F.lit(float(x)) for x in b])
            pos = F.array_position(
                F.transform(arr, lambda x: F.col(c) <= x), F.lit(True)
            ).cast("int")
            return F.when(pos > 0, pos - 1).otherwise(
                F.lit(nbuckets - 1)
            )
        # non-numeric: hash-bucket (clusters equal values; no range
        # semantics, same as Delta's zorder on strings via hilbert
        # fallback).
        return F.pmod(F.xxhash64(F.col(c)), F.lit(nbuckets)).cast("int")

    z = F.lit(0).cast("long")
    ba, bb = bucket(col_a), bucket(col_b)
    for i in range(bits):
        z = (
            z
            + (F.shiftright(ba, i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i)))
            + (F.shiftright(bb, i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i + 1)))
        )
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> StructType:
    """S12: Hive-layout partitioned parquet overwrite. Partition
    columns become directories (``year=.../month=...``) so date-
    filtered reads prune files without touching footers.

    Returns the data schema written: ``df``'s fields without the
    partition columns. ``spark.read.schema(it).parquet(path)`` then
    skips the job that infers a schema from a parquet footer; the
    partition columns still come from the directory names, and every
    field reads back nullable, exactly as an inferring read gives."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return StructType(
        [f for f in df.schema.fields if f.name not in partition_cols]
    )


def _no_partition_inference(spark: SparkSession):
    """Context manager: pin partition-type inference OFF for the
    enclosed read, then RESTORE the caller's prior value (ADVICE r6:
    the old set-and-leave silently changed partition typing for all
    subsequent unrelated reads on externally built sessions). Safe to
    restore immediately after ``spark.read...`` returns: the scan's
    partition schema is resolved eagerly at DataFrame creation.

    The conf it pins is session-wide, not per-thread, so a call run by
    ``session.fan_out`` must not enter it (nor ``read_partitioned_parquet``
    or ``read_table_format``): a sibling call would read under the pinned
    value, and the two restores can interleave."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        try:
            prior = spark.conf.get(key)
        except Exception:  # noqa: BLE001 — unset on this session
            prior = None
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)

    return _cm()


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a partitioned dataset written by the sink above. Partition
    values stay strings — the reference's inference-off discipline.
    The conf is pinned HERE at runtime (not only in the session
    factory) so the contract holds under externally-built sessions
    too: under a default session, inference turns ``month=05`` into
    int 5 and every downstream string comparison / value hash
    silently shifts (CORRECTNESS r03/r05 red row). The prior conf
    value is restored after the scan resolves."""
    with _no_partition_inference(spark):
        return spark.read.parquet(path)


def create_table_as(
    spark: SparkSession,
    name: str,
    select: DataFrame | str,
    path: str,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """S13: CTAS — materialize a query as a parquet-backed catalog
    table at an explicit location, replacing any previous version
    (the reference's DROP + clear-prefix + CTAS collapses to one
    atomic-enough overwrite; a real deployment would use Delta/Iceberg
    for true ACID replace)."""
    df = spark.sql(select) if isinstance(select, str) else select
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = df.write.mode("overwrite").option("path", path).format("parquet")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(name)
    return spark.table(name)


def append_log(
    spark: SparkSession, path: str, rows: list[dict], schema: str
) -> None:
    """S14/S15: append-only log table (ingestion audit / query log).
    One small parquet file per append — compaction is a maintenance
    job at scale, exactly like any streaming sink."""
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


# Rename hook: tests patch this to simulate a crash between partition
# swaps; production code never should.
_rename = _os.rename


def write_audit_publish(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = (),
    expected_rows: int | None = None,
    audit_fn=None,
) -> dict:
    """Write-Audit-Publish commit for plain parquet — the
    parquet-only mitigation for the missing table-format ACID layer
    (SCALE.md §5): without a commit protocol, a crash mid-overwrite
    leaves a torn table that READERS CANNOT DETECT. WAP makes every
    failure mode either invisible or loud:

    1. WRITE  — ``df`` is materialized into a sibling staging dir
       (``<path>.__stage__<token>``); the target is not touched, so
       plans that READ the target (merge, compaction) need no
       checkpoint — the staging write is the materialization barrier.
    2. AUDIT  — the staged files are re-read and counted (validates
       every footer exists and parses); optional ``expected_rows``
       equality and a caller ``audit_fn(staged_df)`` (raise to veto).
       Any audit failure deletes the stage and leaves the target
       byte-identical.
    3. PUBLISH — directory-level renames only, never file copies:
       each staged leaf partition atomically replaces its target
       directory (old dir first renamed to a dot-prefixed retire name
       — Hadoop/Spark listings ignore dot/underscore entries, so a
       reader racing the swap sees the old OR the new partition,
       never both and never a half-written mix). Unpartitioned tables
       swap as one directory. A crash between the two renames of one
       partition leaves that partition absent-but-recoverable (the
       retire dir holds the complete old data) — an explicit, loud
       state, unlike the silent mixed-files state a plain overwrite
       crash produces. Leftover stage/retire dirs from crashed runs
       are swept on the next publish.

    Concurrent WRITERS to the same table still need an external lock
    or a real table format — WAP serializes crash-vs-reader, not
    writer-vs-writer (documented limitation, SCALE.md §5).

    Returns ``{"rows": staged_count, "partitions_published": n}``.
    """
    import shutil
    import uuid
    from pathlib import Path

    spark = df.sparkSession
    token = uuid.uuid4().hex[:12]
    stage = f"{path}.__stage__{token}"

    # 1. WRITE
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(stage)

    # 2. AUDIT
    try:
        staged = spark.read.parquet(stage)
        n = staged.count()
        if expected_rows is not None and n != expected_rows:
            raise ValueError(
                f"WAP audit: staged {n} rows, expected {expected_rows}"
            )
        if audit_fn is not None:
            audit_fn(staged)
    except Exception:
        shutil.rmtree(stage, ignore_errors=True)
        raise

    # 3. PUBLISH
    tgt_root = Path(path)
    stage_root = Path(stage)
    # Sweep debris from previously crashed runs (their retire dirs are
    # dot-prefixed → invisible to readers, but they hold disk).
    if tgt_root.parent.exists():
        for junk in tgt_root.parent.glob(f"{tgt_root.name}.__stage__*"):
            if junk != stage_root:
                shutil.rmtree(junk, ignore_errors=True)

    def swap(staged_dir: Path, target_dir: Path) -> None:
        target_dir.parent.mkdir(parents=True, exist_ok=True)
        for junk in target_dir.parent.glob(".__retire__*"):
            shutil.rmtree(junk, ignore_errors=True)
        retire = None
        if target_dir.exists():
            retire = target_dir.parent / f".__retire__{token}_{target_dir.name}"
            _rename(target_dir, retire)
        _rename(staged_dir, target_dir)
        if retire is not None:
            shutil.rmtree(retire, ignore_errors=True)

    if not partition_cols:
        swap(stage_root, tgt_root)
        return {"rows": n, "partitions_published": 1}

    leaves: list[Path] = []

    def find_leaves(d: Path, depth: int) -> None:
        if depth == len(partition_cols):
            leaves.append(d)
            return
        for child in sorted(d.iterdir()):
            if child.is_dir() and "=" in child.name:
                find_leaves(child, depth + 1)

    find_leaves(stage_root, 0)
    for leaf in leaves:
        swap(leaf, tgt_root / leaf.relative_to(stage_root))
    shutil.rmtree(stage_root, ignore_errors=True)
    return {"rows": n, "partitions_published": len(leaves)}


def refresh_partitions(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Incremental partition refresh — the scaling fix the reference
    flags for its full-rebuild gold (ref README.md:627: "incremental
    merge noted as the scaling fix"; dbt_gold_refresh.py rebuilds all
    3 tables daily).

    Replaces ONLY the partitions present in ``df`` (dynamic-overwrite
    semantics), leaving history untouched — and does it through
    ``write_audit_publish``, so the staged slice is validated before
    any target directory moves and each partition swap is one atomic
    rename (a crash can no longer leave a torn partition, which plain
    ``partitionOverwriteMode=dynamic`` permits mid-commit). On
    Delta/Iceberg this becomes a true MERGE."""
    write_audit_publish(df, path, partition_cols)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
    sort_col: str | None = None,
) -> DataFrame:
    """Bucketed catalog table: rows hash-distributed into
    ``n_buckets`` files by ``bucket_col`` at WRITE time. Two tables
    bucketed the same way join with ZERO exchange — the shuffle was
    paid once at write and amortizes over every subsequent join
    (SURVEY §7: "bucketing for co-located joins"). The scale recipe
    for fact-fact joins repeated across a pipeline."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)
    return spark.table(name)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_values: Sequence[dict] | None = None,
) -> int:
    """Small-file compaction — the maintenance job every append-heavy
    sink (streaming micro-batches, `append_log`, incremental loads)
    eventually needs: thousands of KB-sized files turn a 100 TB scan
    into a metadata/IO storm and defeat `maxPartitionBytes` packing.

    Rewrites each Hive partition of ``path`` as ≈ ceil(bytes /
    target_file_bytes) files via per-partition ``repartition(n)``,
    using dynamic partition overwrite so each directory swap is
    atomic-enough and untouched partitions are never rewritten. Pass
    ``partition_values`` (list of {col: value} dicts) to restrict the
    rewrite to known-dirty partitions — at scale you compact the
    partitions the ingest just appended to, not the whole table.
    Returns the number of partitions rewritten.

    On Delta/Iceberg this is OPTIMIZE / rewrite_data_files; this is
    the plain-parquet equivalent with the same partition-at-a-time
    isolation (ref: the reference's append-only DynamoDB logs +
    daily full rebuilds have no analogue — beyond-reference op).

    File sizing uses the local filesystem (os.listdir); an HDFS/S3
    deployment swaps in the Hadoop FileSystem listing — the Spark
    plan (per-partition read → repartition(n) → dynamic overwrite)
    is storage-agnostic."""
    import math
    import os

    from pyspark.sql import functions as F

    def _dir_for(vals: dict) -> str:
        return os.path.join(
            path, *[f"{c}={vals[c]}" for c in partition_cols]
        )

    if partition_values is None:
        # Discover partitions from the directory layout (distinct on
        # partition columns only — a metadata-cheap scan).
        rows = (
            spark.read.parquet(path)
            .select(*partition_cols)
            .distinct()
            .collect()
        )
        partition_values = [r.asDict() for r in rows]

    n_rewritten = 0
    for vals in partition_values:
        part_dir = _dir_for(vals)
        files = [
            f
            for f in os.listdir(part_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        total = sum(os.path.getsize(os.path.join(part_dir, f)) for f in files)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= n_target:
            continue
        part_df = spark.read.parquet(part_dir).repartition(n_target)
        for c, v in vals.items():
            part_df = part_df.withColumn(c, F.lit(v))
        # No checkpoint needed: refresh_partitions stages via WAP, so
        # the source directory is read in full (stage write) before
        # any target rename happens.
        refresh_partitions(part_df, path, partition_cols)
        n_rewritten += 1
    return n_rewritten


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> None:
    """Keyed MERGE (upsert) into a parquet table: rows whose key
    matches an update are replaced, new keys are inserted, everything
    else is byte-identical untouched. The plain-parquet emulation of
    ``MERGE INTO`` — on Delta/Iceberg this function becomes a true
    merge with file-level skipping; the call site doesn't change.

    Scale shape: with ``partition_cols``, only the partitions present
    in ``updates`` are read, anti-joined, and rewritten (dynamic
    partition overwrite) — cost is proportional to the touched slice,
    never the table. The anti join is keyed on ``key_cols`` and AQE
    broadcasts the (typically small) update key set. ``updates`` must
    be key-unique — dedupe upstream, this function won't guess which
    duplicate wins.

    Commits through ``write_audit_publish``: the merged frame stages
    to a sibling dir (which is also what materializes the plan that
    reads the target's own files — no checkpoint needed), is audited,
    and lands via atomic directory renames, so a crash anywhere
    leaves the target either fully old or fully new per partition.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    key_cols = list(key_cols)
    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        write_partitioned_parquet(updates, path, partition_cols)
        return

    if partition_cols:
        touched = [
            r.asDict()
            for r in updates.select(*partition_cols).distinct().collect()
        ]
        in_touched = None
        for vals in touched:
            clause = F.lit(True)
            for c in partition_cols:
                clause = clause & (F.col(c) == F.lit(vals[c]))
            in_touched = clause if in_touched is None else (in_touched | clause)
        scoped = target.filter(in_touched)
    else:
        scoped = target

    kept = scoped.join(
        updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    merged = kept.unionByName(updates)
    write_audit_publish(merged, path, partition_cols)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
) -> None:
    """Range-partitioned, sorted parquet — the plain-parquet form of
    clustering/Z-ordering on one key prefix: rows are range-split
    across files on ``sort_cols`` and sorted within each, so every
    row group's min/max footer stats cover a NARROW, disjoint slice
    of the key space. A filtered scan then skips whole row groups /
    files at the reader level (parquet predicate pushdown) instead of
    scanning everything — the storage-side half of data skipping that
    directory partitioning can't give for high-cardinality or range
    keys (a day-partitioned table can't also directory-partition by
    ship date; sorting inside the files can).

    ``repartitionByRange`` samples the key distribution, so files are
    balanced under skew. At 100 TB this is the difference between a
    range query touching ~range/total of the bytes vs all of them.
    """
    out = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(
        path
    )


def append_with_schema_evolution(
    spark: SparkSession, path: str, df: DataFrame
) -> None:
    """Append a batch whose schema may have EVOLVED — new columns
    appear, old ones go missing — to an existing parquet table (the
    Delta/Iceberg ``mergeSchema``/schema-evolution write on plain
    parquet; the call site doesn't change on an upgrade).

    Missing columns are null-filled so every file stays readable
    under the union schema; brand-new columns are kept and surface to
    readers via ``read_evolved``'s footer-merging scan. Existing
    files are never rewritten — evolution is append-only metadata,
    exactly how the table formats do it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    try:
        existing = spark.read.parquet(path).schema
    except AnalysisException:
        df.write.mode("append").parquet(path)
        return
    have = {f.name for f in df.schema.fields}
    aligned = df.select(
        "*",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in existing.fields
            if f.name not in have
        ],
    )
    aligned.write.mode("append").parquet(path)


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Scan with per-file footer merging: the union schema across
    every appended batch (old rows null-fill the new columns)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def versioned_write(
    df: DataFrame,
    path: str,
    audit_fn=None,
    max_attempts: int = 16,
) -> dict:
    """Versioned snapshot commit — Delta-style time travel AND
    optimistic writer-vs-writer concurrency on plain parquet, closing
    the limitation write_audit_publish documents:

    1. WRITE  — stage into ``<path>/.__stage__<token>`` (invisible to
       readers: dot-prefixed), then AUDIT (re-read counts every
       footer; ``audit_fn(staged_df)`` may raise to veto — the stage
       is deleted and no version is claimed).
    2. CLAIM  — pick N = max existing version + 1 and atomically
       ``rename(stage, <path>/v<N>)``. POSIX rename onto an existing
       non-empty directory FAILS, so the rename IS the compare-and-
       swap: of two racing writers exactly one owns v<N>; the loser
       retries with N+1. Version directories are immutable forever
       after — no reader ever observes a partial version.
    3. POINT  — write ``_latest.<token>`` and ``os.replace`` it onto
       ``_latest`` (atomic file swap). Readers resolve the pointer or
       pin an explicit version; a crash before POINT leaves a
       claimed-but-unreferenced version (invisible, swept by vacuum),
       never a torn table.

    Returns ``{"version": N, "rows": n}``.
    """
    import shutil
    import uuid
    from pathlib import Path

    spark = df.sparkSession
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    stage = root / f".__stage__{token}"
    df.write.mode("overwrite").parquet(str(stage))
    try:
        n = spark.read.parquet(str(stage)).count()
        if audit_fn is not None:
            audit_fn(spark.read.parquet(str(stage)))
    except Exception:
        shutil.rmtree(stage, ignore_errors=True)
        raise

    def existing_versions() -> list[int]:
        return sorted(
            int(d.name[1:])
            for d in root.iterdir()
            if d.is_dir() and d.name.startswith("v")
            and d.name[1:].isdigit()
        )

    claimed = None
    for _ in range(max_attempts):
        vs = existing_versions()
        nxt = (vs[-1] + 1) if vs else 1
        try:
            _os.rename(stage, root / f"v{nxt}")  # CAS: fails if taken
            claimed = nxt
            break
        except OSError:
            continue
    if claimed is None:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"versioned_write: lost the version race {max_attempts} times"
        )
    tmp = root / f"_latest.{token}"
    tmp.write_text(str(claimed))
    _os.replace(tmp, root / "_latest")
    return {"version": claimed, "rows": n}


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a versioned table at the published pointer (default) or a
    pinned historical version — time travel. Raises FileNotFoundError
    for a missing pointer/version rather than reading debris."""
    from pathlib import Path

    root = Path(path)
    if version is None:
        ptr = root / "_latest"
        if not ptr.exists():
            raise FileNotFoundError(f"no published version at {path}")
        version = int(ptr.read_text().strip())
    vdir = root / f"v{version}"
    if not vdir.is_dir():
        raise FileNotFoundError(f"version {version} not found at {path}")
    return spark.read.parquet(str(vdir))


def vacuum_versions(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` versions (never the one
    ``_latest`` points to) plus any crashed stage debris. Returns the
    removed version numbers."""
    import shutil
    from pathlib import Path

    root = Path(path)
    ptr = root / "_latest"
    pinned = int(ptr.read_text().strip()) if ptr.exists() else None
    versions = sorted(
        int(d.name[1:])
        for d in root.iterdir()
        if d.is_dir() and d.name.startswith("v") and d.name[1:].isdigit()
    )
    keep = set(versions[-keep_last:])
    if pinned is not None:
        keep.add(pinned)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(root / f"v{v}", ignore_errors=True)
            removed.append(v)
    for junk in root.glob(".__stage__*"):
        shutil.rmtree(junk, ignore_errors=True)
    return removed


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro external datasource module is on the
    session (it is NOT bundled with core Spark — absent in this
    sandbox; the probe keeps the format-parametric writers honest)."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — capability probe
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroFileFormat"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


_FORMATS = ("parquet", "orc", "avro")


def write_table_format(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Format-parametric table writer: parquet (default), ORC
    (bundled with Spark — columnar, footer stats, predicate pushdown
    and partition pruning all work exactly as for parquet), or Avro
    (row-oriented interchange; requires the spark-avro module —
    ``avro_available``). One writer so every sink pattern in this
    module (partitioned layout, schema, compression defaults) is
    format-agnostic at the call site."""
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    if fmt == "avro" and not avro_available(df.sparkSession):
        raise RuntimeError(
            "avro requested but the spark-avro module is not on this "
            "session (it is an external Spark module)"
        )
    writer = df.write.mode(mode).format(fmt)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def read_table_format(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Format-parametric scan matching ``write_table_format`` —
    partition-type inference pinned off (string partition values)
    for every format, same contract as ``read_partitioned_parquet``."""
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    if fmt == "avro" and not avro_available(spark):
        raise RuntimeError(
            "avro requested but the spark-avro module is not on this "
            "session"
        )
    with _no_partition_inference(spark):
        return spark.read.format(fmt).load(path)
