"""Date expression helpers.

The reference stores daily keys as VARCHAR in two formats
(``YYYY-MM-DD`` and ``YYYY-MM-DD HH:MM:SS``) and every robust query
wraps them in a tolerant parse
(ref: insights_engine/prompts/nl_to_sql_system.txt:8-11,
models/features/feature_readiness_daily.sql:81-84). ``safe_date`` is
that idiom as a single Spark expression; the Presto→Spark dialect
edges (``day_of_week`` Monday=1, ``date_trunc('week')``) live here too
so view ports stay mechanical.

Each helper has a Spark SQL twin (``*_sql``, taking and returning SQL
text) for the gold models and views, which are SQL statements, and
``safe_date`` a pandas twin for the weekly report's analyzers; a test
pins every twin equal on edge inputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_date(col: Column | str) -> Column:
    """Tolerant varchar→date: ``COALESCE(TRY(CAST(d AS date)),
    TRY(date_parse(d, '%Y-%m-%d %H:%i:%s')))`` re-expressed with Spark
    null-on-failure parsers. Returns NULL (never raises) on garbage.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")).cast("date"),
    )


def safe_date_sql(col: str) -> str:
    """``safe_date`` as Spark SQL over the expression ``col``."""
    return (
        f"COALESCE(CAST(try_to_timestamp({col}, 'yyyy-MM-dd') AS DATE), "
        f"CAST(try_to_timestamp({col}, 'yyyy-MM-dd HH:mm:ss') AS DATE))"
    )


_YMD = r"\d{4}-\d{2}-\d{2}"


def safe_date_pandas(s: pd.Series) -> pd.Series:
    """``safe_date`` over a Series of strings: datetime64 at midnight,
    NaT where neither strict format parses."""
    text = s.astype("string")
    day = pd.to_datetime(text.where(text.str.fullmatch(_YMD, na=False)),
                         format="%Y-%m-%d", errors="coerce")
    stamp = pd.to_datetime(
        text.where(text.str.fullmatch(_YMD + r" \d{2}:\d{2}:\d{2}", na=False)),
        format="%Y-%m-%d %H:%M:%S", errors="coerce",
    )
    return day.fillna(stamp.dt.normalize())


def day_of_week_iso(col: Column | str) -> Column:
    """ISO day-of-week, Monday=1..Sunday=7 (Presto ``day_of_week``).

    Spark's ``dayofweek`` is Sunday=1; the reference's feature table
    uses the ISO convention, so shift here once instead of in every
    port (SURVEY.md §7.4.4).
    """
    c = F.col(col) if isinstance(col, str) else col
    return ((F.dayofweek(c) + 5) % 7 + 1).cast("int")


def day_of_week_iso_sql(col: str) -> str:
    """``day_of_week_iso`` as Spark SQL over the expression ``col``."""
    return f"CAST((dayofweek({col}) + 5) % 7 + 1 AS INT)"


def week_start(col: Column | str) -> Column:
    """Monday-based week truncation (Presto ``date_trunc('week', d)``).

    Spark's ``date_trunc('week', ...)`` is also Monday-based, so this is
    a thin named wrapper that returns DateType for group keys.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("week", c).cast("date")


def week_start_sql(col: str) -> str:
    """``week_start`` as Spark SQL over the expression ``col``."""
    return f"CAST(date_trunc('week', {col}) AS DATE)"
