"""Categorical banding and literal-map lookup helpers.

The reference's normalizers never register UDFs: categorical recodes
are ``map(literals...)[lower(col)]`` (ref:
glue/bio_etl_utils.py:224-278) and numeric bands are CASE-WHEN chains
(ref: glue/bio_etl_utils.py:297-311 and ~10 analytics views,
SURVEY.md §2.8 F5/F6). These helpers keep that discipline: pure
expressions (SQL text for the map lookup, a Column for the bands),
fully inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def map_lookup_sql(
    col: str, mapping: dict[str, str], default: str | None = "other"
) -> str:
    """dict→``map(...)`` literal lookup on ``lower(col)``, with a
    default, as Spark SQL over the expression ``col``.

    Stays JVM-side: the map is a literal expression, so Catalyst
    constant-folds it and the lookup runs in codegen — the idiom the
    reference uses instead of a mapping UDF.
    """
    pairs = ", ".join(
        f"{sql_string(k.lower())}, {sql_string(v)}" for k, v in mapping.items()
    )
    looked_up = f"map({pairs})[lower({col})]"
    if default is None:
        return looked_up
    return f"coalesce({looked_up}, {sql_string(default)})"


def case_banding(
    col: Column | str,
    bands: Sequence[tuple[float, str]],
    otherwise: str,
    descending: bool = True,
) -> Column:
    """Threshold banding as a WHEN chain.

    ``bands`` is ``[(threshold, label), ...]``; with ``descending=True``
    the first band whose ``value >= threshold`` wins (the shape of every
    reference banding: HR zones, readiness buckets, energy states).
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for threshold, label in bands:
        cond = c >= F.lit(threshold) if descending else c < F.lit(threshold)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None, "bands must be non-empty"
    return expr.otherwise(otherwise)
