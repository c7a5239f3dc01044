"""Each dialect idiom has a Column helper and a Spark SQL snippet (the
gold models and views are SQL). The pair must agree on every input,
edges included: both date formats, empty and garbage strings, NULL,
the Sunday/Monday week boundary, and constant or NULL-masked series
for the correlation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bio_lakehouse_spark.functions.dates import (
    day_of_week_iso,
    day_of_week_iso_sql,
    safe_date,
    safe_date_pandas,
    safe_date_sql,
    week_start,
    week_start_sql,
)
from bio_lakehouse_spark.operators.stats import safe_corr, safe_corr_sql

DATES = [
    ("2025-03-02",),           # Sunday
    ("2025-03-03",),           # Monday
    ("2025-03-02 23:59:59",),  # Sunday, datetime format
    ("2025-03-03 00:00:00",),  # Monday, datetime format
    ("2024-02-29",),           # leap day
    ("2025-02-30",),           # impossible date
    ("2025-13-01",),           # impossible month
    ("",),
    ("garbage",),
    ("2025-03-03T10:00:00",),  # neither format
    (None,),
]


@pytest.mark.parametrize(
    "helper, snippet",
    [
        (safe_date, safe_date_sql),
        (lambda c: day_of_week_iso(safe_date(c)),
         lambda c: day_of_week_iso_sql(safe_date_sql(c))),
        (lambda c: week_start(safe_date(c)),
         lambda c: week_start_sql(safe_date_sql(c))),
    ],
    ids=["safe_date", "day_of_week_iso", "week_start"],
)
def test_date_snippet_matches_helper(spark, helper, snippet):
    df = spark.createDataFrame(DATES, "d string")
    out = df.select(
        "d", helper("d").alias("col"), F.expr(snippet("d")).alias("sql")
    ).collect()
    assert all(r["col"] == r["sql"] for r in out), out
    got = {r["d"]: r["sql"] for r in out}
    # The edges resolve as the helpers document: NULL, never an error.
    assert all(got[d] is None for d in ("", "garbage", "2025-02-30", None))
    if helper is safe_date:
        assert str(got["2025-03-02 23:59:59"]) == "2025-03-02"


def test_safe_date_pandas_matches_helper(spark):
    import pandas as pd

    df = spark.createDataFrame(DATES, "d string")
    want = [r["col"] for r in df.select(safe_date("d").alias("col")).collect()]
    got = safe_date_pandas(pd.Series([d for (d,) in DATES], dtype=object))
    assert [None if pd.isna(v) else v.date() for v in got] == want


def test_day_of_week_and_week_start_edges(spark):
    df = spark.createDataFrame(DATES[:4], "d string")
    row = {
        r["d"]: (r["dow"], str(r["wk"]))
        for r in df.select(
            "d",
            F.expr(day_of_week_iso_sql(safe_date_sql("d"))).alias("dow"),
            F.expr(week_start_sql(safe_date_sql("d"))).alias("wk"),
        ).collect()
    }
    assert row["2025-03-02"] == (7, "2025-02-24")  # Sunday ends the ISO week
    assert row["2025-03-03"] == (1, "2025-03-03")
    assert row["2025-03-02 23:59:59"] == (7, "2025-02-24")
    assert row["2025-03-03 00:00:00"] == (1, "2025-03-03")


def test_safe_corr_snippet_matches_helper(spark):
    rows = (
        # g=linear: a normal series
        [("linear", float(i), 2.0 * i + (i % 3)) for i in range(8)]
        # constant x, constant y, both constant: NULL, not an error
        + [("const_x", 5.0, float(i)) for i in range(5)]
        + [("const_y", float(i), 1.0) for i in range(5)]
        + [("const_both", 1.0, 1.0) for _ in range(3)]
        # one row: NULL
        + [("single", 1.0, 2.0)]
        # NULLs on either side are masked pairwise
        + [("masked", float(i), None if i % 2 else float(i * i))
           for i in range(8)]
        + [("all_null", None, float(i)) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: (r["col"], r["sql"])
        for r in df.groupBy("g").agg(
            safe_corr("x", "y").alias("col"),
            F.expr(safe_corr_sql("x", "y")).alias("sql"),
        ).collect()
    }
    assert all(c == s for c, s in out.values()), out
    for g in ("const_x", "const_y", "const_both", "single", "all_null"):
        assert out[g][1] is None, g
    assert out["linear"][1] == pytest.approx(0.99, abs=0.01)
    assert out["masked"][1] == pytest.approx(
        df.filter("g = 'masked' AND y IS NOT NULL").agg(F.corr("x", "y")).first()[0]
    )
