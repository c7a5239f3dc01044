"""Goldens of the medallion pass: the nine silver tables (row count and
an order-free content hash) and the weekly report (statistics,
narratives, caveats, each result's data frame with its dtypes, and a
hash of the HTML), on the fixture bronze and on the degenerate bronze.

The goldens under ``tests/golden/medallion_*.json`` were recorded when
silver was still built column by column and the analyzers still ran
their own Spark aggregates; the SQL silver and the pandas analyzers
must reproduce them bit for bit. Floats are compared through their
``repr``, which round-trips exactly. To re-record on purpose::

    python tests/test_medallion_golden.py --record
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[1]
BIO_ROOT = ROOT / ".fixtures" / "bio"
GOLDEN = Path(__file__).resolve().parent / "golden"
CORPORA = ("fixture", "degenerate")


def _plain(v):
    """A JSON-stable stand-in for one value: NaN becomes a string (NaN
    is not equal to itself), dates their ISO text, numpy scalars their
    Python twins."""
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        return f"{type(v).__name__}:{v.isoformat()}"
    if v is pd.NaT:
        return "NaT"
    return v


def frame_record(df: pd.DataFrame | None):
    if df is None:
        return None
    return {
        "columns": [str(c) for c in df.columns],
        "dtypes": [str(t) for t in df.dtypes],
        "index": _plain(df.index.tolist()),
        "values": {str(c): _plain(df[c].tolist()) for c in df.columns},
    }


def silver_digest(spark, silver_root: Path, table: str) -> list[int]:
    from pyspark.sql import functions as F

    df = spark.read.parquet(str(silver_root / table))
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).collect()[0]
    return [int(row[0]), int(row[1] or 0)]


def bronze_for(corpus: str, work: Path) -> str:
    from bio_lakehouse_spark.bio.fixtures import generate_bronze

    if corpus == "fixture":
        return str(generate_bronze(BIO_ROOT / "bronze"))
    return str(generate_bronze(work / "bronze", degenerate=True))


def weekly_report(spark, silver: Path, gold: Path):
    """The report as the benchmark's refresh builds it: gold and the
    recovery windows read from parquet, silver from its root."""
    from bio_lakehouse_spark.products import insights

    analyzers = insights.default_analyzers(
        spark,
        spark.read.parquet(str(gold / "gold_daily_rollup")),
        silver_root=str(silver),
        recovery_windows=spark.read.parquet(
            str(gold / "workout_recovery_windows")
        ),
    )
    return insights.WeeklyReportGenerator(analyzers).generate("golden")


def medallion_record(spark, corpus: str, work: Path) -> dict:
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.bio.silver import run_silver

    bronze = bronze_for(corpus, work)
    silver, gold = work / "silver", work / "gold"
    schemas = run_silver(spark, bronze, str(silver))
    build_gold(spark, str(silver), str(gold), silver_schemas=schemas)
    html, results = weekly_report(spark, silver, gold)
    return {
        "silver": {t: silver_digest(spark, silver, t) for t in schemas},
        "report": [
            {
                "name": r.name,
                "statistics": _plain(r.statistics),
                "narrative": r.narrative,
                "caveats": list(r.caveats),
                "data": frame_record(r.data),
            }
            for r in results
        ],
        "html_sha256": hashlib.sha256(html.encode()).hexdigest(),
    }


def _normalized(record: dict) -> dict:
    return json.loads(json.dumps(record))


@pytest.fixture(scope="module", params=CORPORA)
def recorded(request, spark, tmp_path_factory):
    corpus = request.param
    work = tmp_path_factory.mktemp(f"golden_{corpus}")
    want = json.loads((GOLDEN / f"medallion_{corpus}.json").read_text())
    got = _normalized(medallion_record(spark, corpus, work))
    return corpus, got, want, work


def test_silver_matches_golden(recorded):
    corpus, got, want, _ = recorded
    assert got["silver"] == want["silver"], corpus


def test_silver_schemas_are_declared(spark, recorded):
    """The two silver tables the report reads with a declared schema
    are written with exactly that schema."""
    from bio_lakehouse_spark.bio import schemas as S

    corpus, _, _, work = recorded
    for table, declared in (
        ("oura_daily_sleep", S.OURA_DAILY_SLEEP_SILVER_SCHEMA),
        ("peloton_workouts", S.PELOTON_WORKOUTS_SILVER_SCHEMA),
    ):
        written = spark.read.parquet(str(work / "silver" / table))
        written = written.drop("year", "month")
        assert written.schema == declared, (corpus, table)


def test_report_matches_golden(recorded):
    corpus, got, want, _ = recorded
    assert [r["name"] for r in got["report"]] == [
        r["name"] for r in want["report"]
    ]
    for g, w in zip(got["report"], want["report"]):
        for key in ("statistics", "narrative", "caveats", "data"):
            assert g[key] == w[key], (corpus, g["name"], key)
    assert got["html_sha256"] == want["html_sha256"], corpus


def _record() -> None:
    import tempfile

    sys.path.insert(0, str(ROOT))
    from bio_lakehouse_spark.session import get_spark

    spark = get_spark(
        "tests", master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for corpus in CORPORA:
        with tempfile.TemporaryDirectory() as tmp:
            record = medallion_record(spark, corpus, Path(tmp))
        out = GOLDEN / f"medallion_{corpus}.json"
        out.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
        print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    _record()
