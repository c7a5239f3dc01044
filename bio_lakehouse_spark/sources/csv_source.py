"""CSV scanning with the reference's ingestion disciplines.

- Delimiter sniffing (S1): sample the header line of one file, pick
  ``;`` vs ``,`` (ref glue/oura_normalizer.py:83-95).
- Header-grouped scan (S2/SET2): Spark CSV maps columns BY POSITION,
  so files whose headers differ in order must not be read in one pass.
  Group files by exact header line, one ``spark.read.csv`` per group,
  merge with ``unionByName(allowMissingColumns=True)``
  (ref glue/oura_normalizer.py:98-148, README.md:595).
- snake_case header normalization (P2): shared regex
  ``[.\\s/()]+`` → ``_`` (ref glue/peloton_normalizer.py:82-89,
  lambda/ingestion_trigger/handler.py:124-130).

All helpers take explicit file lists so they compose with
``files.list_files`` / ``files.latest_file`` (S5/S6). Driver-side
work is limited to reading ONE LINE per file (header grouping is an
O(#files) metadata pass, same as the reference's S3 listing); the
data itself is only ever read by Spark executors.
"""

from __future__ import annotations

import csv
import re
from collections import defaultdict
from pathlib import Path

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

_SNAKE_RE = re.compile(r"[.\s/()]+")


def snake_case(name: str) -> str:
    """Header → snake_case: collapse dots/spaces/slashes/parens to a
    single underscore, lowercase, strip stray underscores."""
    return _SNAKE_RE.sub("_", name.strip()).strip("_").lower()


def sniff_delimiter(path: str | Path, candidates: str = ";,") -> str:
    """Pick the delimiter whose count in the header line is highest
    (first candidate wins ties; defaults to ``,`` when none appear)."""
    with open(path, encoding="utf-8") as f:
        header = f.readline()
    best, best_n = ",", 0
    for d in candidates:
        n = header.count(d)
        if n > best_n:
            best, best_n = d, n
    return best


def header_line(path: str | Path) -> str:
    with open(path, encoding="utf-8") as f:
        return f.readline().rstrip("\r\n")


def header_schema(
    spark: SparkSession, header: str, sep: str = ","
) -> StructType | None:
    """The all-string schema Spark's CSV reader infers from ``header``
    with ``inferSchema`` off, without the job that reads it. An empty
    field becomes ``_c<i>``; a name repeated (case-insensitively unless
    ``spark.sql.caseSensitive``) gets its position appended, as in
    Spark's ``CSVUtils.makeSafeHeader``. None when a field holds a
    quote or backslash other than one plain ``"..."`` around it: the
    CSV parser's handling of those differs from Python's, so Spark
    reads that header itself."""
    header = header.removeprefix("\ufeff")  # Spark drops a UTF-8 BOM
    field = rf'"[^"\\]*"|[^"\\{re.escape(sep)}]*'
    if not re.fullmatch(rf"(?:{field})(?:{re.escape(sep)}(?:{field}))*", header):
        return None
    fields = next(csv.reader([header], delimiter=sep, quotechar='"'))
    fold = spark.conf.get("spark.sql.caseSensitive") != "true"
    keys = [f.lower() if fold else f for f in fields]
    dups = {k for k in keys if k and keys.count(k) > 1}
    names = [f"_c{i}" if not f else f"{f}{i}" if k in dups else f
             for i, (f, k) in enumerate(zip(fields, keys))]
    return StructType([StructField(n, StringType()) for n in names])


def header_csv_reader(
    spark: SparkSession, header: str, sep: str = ","
) -> DataFrameReader:
    """A header-skipping, all-string CSV reader for files whose first
    line is ``header``, with the schema taken from that line when
    ``header_schema`` can."""
    reader = spark.read.option("header", "true").option("sep", sep)
    schema = header_schema(spark, header, sep)
    if schema is None:
        return reader.option("inferSchema", "false")
    return reader.schema(schema)


def group_by_header(paths: list[str]) -> dict[str, list[str]]:
    """Group file paths by exact header line (S2). Files with the same
    columns in a different order land in different groups on purpose —
    positional CSV parsing must never mix them."""
    groups: dict[str, list[str]] = defaultdict(list)
    for p in paths:
        groups[header_line(p)].append(p)
    return dict(groups)


def read_header_grouped_csv(
    spark: SparkSession,
    paths: list[str],
    normalize_headers: bool = True,
) -> DataFrame:
    """One Spark CSV read per header group, snake_cased, merged with
    ``unionByName(allowMissingColumns=True)`` so groups with extra /
    missing columns align by NAME, never by position.

    Types are left as strings (the normalizers own casting — explicit
    schemas per SURVEY §1.3); delimiter is sniffed per group. The
    schema comes from the header line grouping already read, so no
    group spends a job re-reading it.
    """
    out: DataFrame | None = None
    # Sort groups for a deterministic union order.
    for header, group in sorted(group_by_header(paths).items()):
        d = sniff_delimiter(group[0])
        df = header_csv_reader(spark, header, d).csv(sorted(group))
        if normalize_headers:
            df = df.toDF(*[snake_case(c) for c in df.columns])
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    if out is None:
        raise ValueError("read_header_grouped_csv: no input files")
    return out
