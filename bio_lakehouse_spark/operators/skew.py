"""Skew mitigation: input spreading, and key salting for aggregations
and joins.

AQE's skew-join splitting handles sort-merge join skew at runtime, but
two shapes still need manual salting at 100 TB: (a) groupBy on a key
where one value holds a large share of all rows (a single reducer
becomes the straggler), and (b) broadcast-infeasible joins against a
skewed build side. Both decompose the hot key across ``n_salts``
partitions with a two-phase aggregate / replicated-dimension join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (source_col, phase1_agg, phase2_agg),
    e.g. ``{"n": ("value", "count", "sum"), "total": ("value", "sum",
    "sum"), "mx": ("value", "max", "max")}``. Phase 1 groups on
    (keys + random salt) so a hot key spreads over ``n_salts``
    reducers; phase 2 merges the partials on the true keys — by then
    each key has at most ``n_salts`` rows, so the second shuffle
    cannot skew.

    Non-decomposable aggregates (exact median, count distinct) need
    sketches instead — that's the correct trade at this scale.
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            getattr(F, p1)(col).alias(f"__p_{name}")
            for name, (col, p1, _) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, p2)(f"__p_{name}").alias(name)
            for name, (_, _, p2) in aggs.items()
        ]
    )


def salted_agg_cols(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Convenience: skew-safe count/sum/min/max/avg of one column.
    avg is recomposed as merged-sum / merged-count (the decomposable
    form — never average partial averages)."""
    salted = df.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    p1 = salted.groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(col).alias("__s"),
        F.min(col).alias("__mn"),
        F.max(col).alias("__mx"),
    )
    return p1.groupBy(*keys).agg(
        F.sum("__n").alias("n"),
        F.sum("__s").alias("total"),
        F.min("__mn").alias("min_value"),
        F.max("__mx").alias("max_value"),
        (F.sum("__s") / F.sum("__n")).alias("avg_value"),
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side's key, replicate each
    dimension row across all ``n_salts`` salt values, equi-join on
    (key, salt). The hot key's rows land on ``n_salts`` different
    reducers at the cost of a ``n_salts``× dimension blow-up — the
    standard trade when the dim is too large to broadcast but far
    smaller than the facts."""
    f = facts.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, on=[on, "__salt"]).drop("__salt")


def spread(df: DataFrame, key: str, barrier: bool = False) -> DataFrame:
    """Spread an input that arrives as too few splits to the session's
    parallelism. Small corpora (and any single unsplittable media
    container) arrive as ONE parquet split, so an expression-heavy
    scan, a hash/shingle stream or a mapInPandas decode would run as
    one task on one core (an event-log profile showed
    multimodal_audio_chunks expanding 5 000 docs in exactly 1 task on
    a 32-core session). The repartition is a deterministic hash on
    ``key``, never round-robin: retried map tasks must reproduce the
    same row→partition assignment (SPARK-38388). An input that already
    has ``defaultParallelism`` splits — the 100 TB case — is returned
    unchanged, so the production plan is the same with or without it.

    ``barrier=True`` additionally truncates lineage with a LAZY
    localCheckpoint. Use it when Catalyst would otherwise push an
    expensive derived filter/projection THROUGH the repartition back
    into the single-split scan (filters commute with Repartition —
    correct, and the right call on a real cluster, but it re-
    single-threads exactly the work the spread exists to
    parallelize) or when two consumers would each re-scan. Inside
    the small-input branch only, so a multi-split production input
    is never materialized."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, key)
        if barrier:
            df = df.localCheckpoint(eager=False)
    return df
