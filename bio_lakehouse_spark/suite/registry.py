"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Contract (see repo ``__spark_entry__.py``): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle is ANSI SQL
DuckDB runs against the same parquet registered as views. The driver
compares row count + schema + an order-insensitive value hash, sorting
columns by name — so BOTH sides alias every computed column to the
same name, and every float column is rounded (6 decimals) on both
sides so summation-order differences between engines can't flip the
hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Fixture contract: True ⇒ the testdata GUARANTEES a nonempty
    # result, so a 0-row "green" is a vacuous match (a predicate
    # missing the data entirely — the orc_sink r6 failure mode) and
    # the local harness flags it. Set False only for queries whose
    # EMPTINESS is the correct answer (e.g. anti_join_inactive: every
    # sf0.01 customer has orders, so the anti-join is rightly empty).
    expect_rows: bool = True
    # Smallest scale factor at which the nonempty guarantee holds.
    # Selective predicates (edit-distance pairs, two-nation revenue
    # windows, sole-supplier waits) legitimately match nothing in the
    # sf0.001 fixture while being guaranteed rows at the driver's
    # sf0.01 — the r10 cross-SF sweep flagged exactly those three as
    # false "vacuous green"s. The harness enforces the vacuity gate
    # only when the run's SF >= this bound.
    expect_rows_min_sf: float = 0.0


REGISTRY: dict[str, QuerySpec] = {}


class EmptySourceTableError(RuntimeError):
    """A feeder/sink/replay query's SOURCE table is fully empty — an
    upstream configuration error, not a degenerate group (empty
    GROUPS yield NULL stats/empty frames and never raise; see the
    degenerate-corpus net). These queries write derived artifacts
    (binary files, partitioned sinks, streaming state, an IVF index)
    from the source and re-read them, so a fully-empty source used to
    surface as a raw PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA /
    INVALID_ARRAY_INDEX traceback from deep inside the re-read. Fail
    loud is right (VERDICT r12 #6); fail loud with a NAME and the
    offending table is what an operator needs at 3 a.m."""


def require_artifact(condition: bool, query: str, table: str, what: str):
    """Driver-side guard (zero distributed work — call it only on an
    already-known condition: a glob that matched nothing, a missing
    state dir, an empty collect) that turns the empty-source failure
    class into the named contract above."""
    if not condition:
        raise EmptySourceTableError(
            f"{query}: source table '{table}' produced no {what} — "
            f"the table is empty at this sf_dir (upstream config "
            f"error; this query derives artifacts from the source "
            f"and cannot run on a fully-empty table)"
        )


def register(
    name: str,
    oracle: str | None = None,
    survey: tuple[str, ...] = (),
    expect_rows: bool = True,
    expect_rows_min_sf: float = 0.0,
):
    """Decorator registering a suite query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            fn=fn,
            oracle=oracle,
            survey=survey,
            doc=(fn.__doc__ or "").strip(),
            expect_rows=expect_rows,
            expect_rows_min_sf=expect_rows_min_sf,
        )
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of a driver test table (S7).

    ``events.ts`` has shipped under three physical encodings across
    driver rounds — TIMESTAMP(NANOS) (readable only as epoch-nanos
    long via ``spark.sql.legacy.parquet.nanosAsLong``), timestamp[us]
    with isAdjustedToUTC=false (read as TIMESTAMP_NTZ), and plain
    UTC-adjusted timestamp. This normalizes ALL of them to a session-TZ
    TIMESTAMP so every downstream query (window gaps, unix_timestamp,
    date_trunc) is immune to the file encoding. Confs are set here at
    runtime so externally-created sessions (the driver's) work too.
    """
    # UTC pins CAST(ts AS DATE)/date_trunc to the oracle's (naive)
    # semantics regardless of who built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us] without isAdjustedToUTC → read directly as
        # TIMESTAMP (LTZ) at the scan instead of TIMESTAMP_NTZ; under
        # the UTC session this matches DuckDB's naive semantics.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Pair with int64-micros output so TIMESTAMP columns written
        # back keep min/max stats (INT96 would drop them).
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # integer `div`, not `/`: float division loses µs precision
            # at 1e18-scale nanos.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif dt == "timestamp_ntz":
            # Defensive: sessions that cached the NTZ scan schema
            # before the conf above landed. UTC session → wall-clock
            # preserved, identical to the scan-level path.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
