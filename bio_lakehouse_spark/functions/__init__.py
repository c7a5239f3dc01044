"""Scalar expression helpers (SURVEY.md §2.8).

Everything here returns Column expressions built from
``pyspark.sql.functions`` built-ins — JVM-side, codegen-friendly, no
Python UDFs (the reference's own discipline, SURVEY.md §2.11).
"""

from bio_lakehouse_spark.functions.dates import (
    day_of_week_iso,
    safe_date,
    week_start,
)
from bio_lakehouse_spark.functions.banding import (
    case_banding,
    map_lookup_sql,
)

__all__ = [
    "safe_date",
    "day_of_week_iso",
    "week_start",
    "case_banding",
    "map_lookup_sql",
]
