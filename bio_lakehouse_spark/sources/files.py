"""File-selection helpers (S5/S6) and recursive scans.

- ``latest_file``: the reference's Peloton source ships FULL exports,
  so only the newest file should ever be read (superseding older ones)
  — ref glue/peloton_normalizer.py:55-72 (sort by LastModified).
- ``recursive_csv``: recursiveFileLookup with partition inference off
  so directory names can never shadow data columns — ref
  glue/healthkit_normalizer.py:50-59 and the partition-inference-off
  discipline at oura_normalizer.py:31-33. When every file under the
  tree starts with the same header line, the all-string schema comes
  from that line (``csv_source.header_schema``), so the read runs no
  job to infer it.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bio_lakehouse_spark.sources.csv_source import header_line, header_schema


def list_files(root: str | Path, pattern: str = "*") -> list[str]:
    """Recursive deterministic listing (sorted by path)."""
    return sorted(str(p) for p in Path(root).rglob(pattern) if p.is_file())


def latest_file(root: str | Path, pattern: str = "*") -> str:
    """Newest matching file by (mtime, path) — the full-export-
    supersedes-history rule (S6). Path tie-break keeps it
    deterministic when mtimes collide."""
    files = [Path(p) for p in list_files(root, pattern)]
    if not files:
        raise FileNotFoundError(f"no files matching {pattern} under {root}")
    return str(max(files, key=lambda p: (p.stat().st_mtime, str(p))))


def _spark_listing(root: Path) -> list[Path]:
    """The files a recursive Spark read of ``root`` lists: hidden
    names (``.x``, ``_x`` without ``=``, ``x._COPYING_``) are skipped,
    directories included."""

    def hidden(name: str) -> bool:
        return (name.startswith(".") or name.endswith("._COPYING_")
                or (name.startswith("_") and "=" not in name))

    return [p for p in sorted(root.rglob("*")) if p.is_file() and not any(
        hidden(part) for part in p.relative_to(root).parts)]


def _shared_header_schema(
    spark: SparkSession, root: Path, sep: str
) -> StructType | None:
    """The schema of the header line every file under ``root`` starts
    with; None when the headers differ, a file is empty or unreadable
    as text, or ``header_schema`` leaves the header to Spark."""
    try:
        headers = {header_line(p) for p in _spark_listing(root)}
    except (OSError, UnicodeDecodeError):
        return None
    if len(headers) != 1 or headers == {""}:
        return None
    return header_schema(spark, headers.pop(), sep)


def recursive_csv(
    spark: SparkSession,
    root: str | Path,
    schema: StructType | None = None,
    sep: str = ",",
) -> DataFrame:
    """Recursive CSV scan (S5): recursiveFileLookup disables partition
    discovery entirely, so a path like ``.../day=3/x.csv`` cannot
    inject a ``day`` column that shadows the data's own. Without a
    ``schema``, files that share one header line are read with that
    line's schema; otherwise Spark infers it from the first file."""
    if schema is None:
        schema = _shared_header_schema(spark, Path(root), sep)
    reader = (
        spark.read.option("header", "true")
        .option("sep", sep)
        .option("recursiveFileLookup", "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")
    return reader.csv(str(root))
