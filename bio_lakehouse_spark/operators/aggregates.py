"""Aggregation operators (SURVEY.md §2.4 A1-A13).

Daily/weekly rollups, conditional aggregates, last-of-day dedupe
aggregation, correlation aggregates, exact percentiles. All built-in
aggregates → map-side partial aggregation for free; `collect_set`
results are always ``array_sort``-ed before joining because set order
is nondeterministic across partitions (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_set_join(col: str | Column, sep: str = ",") -> Column:
    """``array_join(array_sort(collect_set(x)), sep)`` — the reference's
    comma-joined category sets (ref stg_peloton_workouts.sql:9-11,
    glue/mfp_normalizer.py:129), sorted for deterministic output."""
    return F.array_join(F.array_sort(F.collect_set(col)), sep)


def conditional_avg(cond: Column, value: Column | str) -> Column:
    """``AVG(CASE WHEN cond THEN value END)`` (A5)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.avg(F.when(cond, v))


def conditional_count(cond: Column) -> Column:
    """``COUNT(CASE WHEN cond THEN 1 END)`` (A5)."""
    return F.count(F.when(cond, F.lit(1)))


def percentile_exact(col: str | Column, p: float) -> Column:
    """Exact linear-interpolation percentile (Presto
    ``PERCENTILE_CONT`` / pandas ``quantile``, A13). Exact beats
    ``percentile_approx`` for oracle parity; swap to approx at the
    100 TB tier where a t-digest is the right trade."""
    c = F.col(col) if isinstance(col, str) else col
    return F.percentile(c, F.lit(p))


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows NOT dominated under
    (minimize ``x_col``, maximize ``y_col``). Row j dominates row i
    iff x_j <= x_i AND y_j >= y_i with at least one strict; exact
    duplicates of a frontier point are all kept. Other orientations:
    negate the column at the call site.

    Scale design — the textbook sort-scan skyline needs a GLOBAL
    cummax over x-order (one task); this instead reduces the frontier
    test to per-distinct-x aggregates plus a two-level prefix max
    (the dense_ids partition-offset technique):

      1. g = groupBy(x).max(y)            — one map-side-combined agg;
      2. prefix max of g over x-order via range-partition → within-
         partition window + a broadcast |partitions|-row running max
         of the preceding partitions (never a global window);
      3. join g back on x (keyed shuffle): dominated iff
         max{y : x' < x} >= y  OR  max{y : x' = x} > y.

    Every stage is bounded: the only frame that crosses partitions
    whole is the |partitions|-row per-range max table.
    """
    from pyspark.sql import Window

    g = df.groupBy(F.col(x_col).alias("__x")).agg(
        F.max(F.col(y_col)).alias("__mx")
    )
    parted = (
        g.repartitionByRange(num_partitions, "__x")
        if num_partitions
        else g.repartitionByRange("__x")
    )
    with_pid = parted.withColumn("__pid", F.spark_partition_id())
    # strictly-preceding prefix max WITHIN each range partition
    wloc = (
        Window.partitionBy("__pid")
        .orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # lazy checkpoint: `totals` below re-reads this frame — without
    # the barrier the per-distinct-x aggregation (the corpus-scale
    # pass) would execute twice, once per consumer
    ranked = with_pid.withColumn(
        "__loc", F.max("__mx").over(wloc)
    ).localCheckpoint(eager=False)
    # per-partition totals → running max of PRECEDING partitions
    # (|partitions| rows: window over the tiny frame, then broadcast)
    totals = ranked.groupBy("__pid").agg(F.max("__mx").alias("__pm"))
    wprev = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.withColumn("__prev", F.max("__pm").over(wprev)).select(
        "__pid", "__prev"
    )
    aug = (
        ranked.join(F.broadcast(offs), "__pid")
        .withColumn("__lt", F.greatest("__loc", "__prev"))
        .select("__x", "__mx", "__lt")
    )
    joined = df.join(aug, on=df[x_col] == aug["__x"])
    dominated = F.coalesce(
        F.col("__lt") >= F.col(y_col), F.lit(False)
    ) | (F.col("__mx") > F.col(y_col))
    return joined.filter(~dominated).drop("__x", "__mx", "__lt")


def _ranked_by_range(df, cols, num_partitions: int | None = None):
    """``repartitionByRange(cols)`` → ``sortWithinPartitions(cols)``
    → ``monotonically_increasing_id``, decoded into ``__pid`` (range-
    partition index, upper bits) and ``__rk`` (1-based row position
    within the sorted partition, lower 33 bits — the Spark id
    contract). The id is evaluated above the Sort node and is
    nondeterminism-tagged, so Catalyst cannot reorder it below the
    sort; partition index order == range order, which the offsets
    prefix-sum in dense_ids relies on. NO Window anywhere: the
    earlier ``Window.partitionBy(spark_partition_id())`` formulation
    made Catalyst insert a second full hash-exchange of the frame by
    pid right after the range exchange. Kept barrier-free so plan
    tests can see the range-exchange lineage (dense_ids adds the
    localCheckpoint)."""
    from pyspark.sql import functions as F

    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    return (
        parted.withColumn("__mid", F.monotonically_increasing_id())
        .select(
            "*",
            # long, not int: a range partition can legally hold more
            # than 2^31 rows at extreme scale, and a non-ANSI int cast
            # would wrap the 33-bit row position negative silently —
            # the downstream offset arithmetic is long-safe already
            F.shiftright("__mid", 33).cast("long").alias("__pid"),
            (F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1)
            .cast("long")
            .alias("__rk"),
        )
        .drop("__mid")
    )


def dense_ids(
    df,
    order_cols,
    id_name: str = "dense_id",
    num_partitions: int | None = None,
    assume_unique: bool = False,
):
    """Contiguous 0-based ids in global ``order_cols`` order WITHOUT a
    single-partition window — the standard partition-offset technique
    for numbering a corpus at scale.

    A bare ``row_number() OVER (ORDER BY ...)`` collapses all data
    into ONE task; this instead (1) range-partitions by the order
    key, (2) ranks within each partition, (3) computes per-partition
    row counts — a |partitions|-row frame — and broadcasts their
    running offsets back: id = partition_offset + local_rank − 1.

    The ids equal the global rank as long as ``order_cols`` is a
    TOTAL order (ties would make ranks depend on the sampled range
    boundaries — callers must include a tiebreaker column; this is
    asserted cheaply by requiring key uniqueness within a partition).

    Physical shape (r9): ``repartitionByRange`` → ``sortWithin
    Partitions`` → ``monotonically_increasing_id`` — the id's upper
    bits ARE the range-partition index and its lower 33 bits the
    in-partition row position in sorted order, so the within-
    partition rank needs NO Window at all. The earlier
    ``Window.partitionBy(spark_partition_id())`` formulation forced
    Catalyst to insert a second full hash-exchange of the frame by
    __pid right after the range exchange (Window requires hash
    clustering; range partitioning doesn't satisfy it) — one entire
    shuffle of the entity frame for nothing. A lazy localCheckpoint
    barrier keeps the ranked frame from being recomputed by its two
    consumers (the counts pass and the final join), exactly the
    skyline_2d pattern above.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = list(order_cols)
    # lazy barrier: the ranked frame has two consumers below (counts
    # and the final join) plus whatever the caller adds — without it
    # the corpus-scale scan+sort would re-execute once per consumer
    ranked = _ranked_by_range(df, cols, num_partitions).localCheckpoint(
        eager=False
    )
    # uniqueness guard: a duplicated total-order key makes global
    # ranks boundary-dependent — fail loudly instead. The guard is a
    # full extra aggregation job over the input; callers whose key
    # PROVABLY ends in a primary key (e.g. ntile_rank's
    # (total_value, user_id)) pass assume_unique=True to skip it at
    # scale.
    if not assume_unique:
        dup = (
            ranked.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "dense_ids: order_cols is not a total order (duplicate"
                " keys); add a tiebreaker column"
            )
    counts = ranked.groupBy("__pid").agg(F.max("__rk").alias("__n"))
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(woff), F.lit(0))
    ).select("__pid", "__off")
    return (
        ranked.join(F.broadcast(offsets), "__pid")
        .withColumn(id_name, (F.col("__off") + F.col("__rk") - 1))
        .drop("__pid", "__rk", "__off")
    )
