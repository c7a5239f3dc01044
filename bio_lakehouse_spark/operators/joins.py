"""Join operators (SURVEY.md §2.3 J1-J7).

The reference's joins are all daily-key equi-joins: a FULL OUTER chain
with a COALESCE-accumulated key building the gold rollup
(ref models/gold/gold_daily_rollup.sql:91-153) and next-day self-joins
(ref models/analytics/sleep_performance_prediction.sql:25-33).

Scale notes: Spark's named-column join (``on=[key]``) coalesces the
key exactly like the reference's manual ``COALESCE(r.date, s.date,
...)`` chain. Small sides should be broadcast — callers pass
``broadcast_small=True`` or wrap dims in ``F.broadcast`` themselves;
fact-fact joins shuffle on the key and AQE handles skew.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def coalesce_outer_chain(
    dfs: Sequence[DataFrame],
    on: Sequence[str],
    how: str = "full_outer",
) -> DataFrame:
    """Chain-join N frames on shared key columns, coalescing the key.

    Replacement for the reference's manual key accumulation
    (gold_daily_rollup.sql:145-153): Spark's named-column join already
    emits a single coalesced key column per join, so chaining it is
    semantically identical — including rows present in only one source
    (SURVEY.md §7.4.2).
    """
    return reduce(lambda a, b: a.join(b, on=list(on), how=how), dfs)


def next_day_self_join(
    df: DataFrame,
    date_col: str,
    days: int = 1,
    left_alias: str = "a",
    right_alias: str = "b",
) -> DataFrame:
    """As-of(+N days) self-join: pair each row with the row ``days``
    later (J3). Prefer :func:`bio_lakehouse_spark.operators.windows
    .lead_col` when both sides are the same table — the reference
    itself switched to LEAD (workout_recovery_windows.sql:25-29); this
    exists for the cases where the two sides differ."""
    left = df.alias(left_alias)
    right = df.alias(right_alias)
    cond = F.col(f"{right_alias}.{date_col}") == F.date_add(
        F.col(f"{left_alias}.{date_col}"), days
    )
    return left.join(right, cond, "inner")


def anti(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """``LEFT ANTI`` — rows of ``df`` with no match (J6)."""
    return df.join(other, on=list(on), how="left_anti")


def semi(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """``LEFT SEMI`` — rows of ``df`` with at least one match (J6)."""
    return df.join(other, on=list(on), how="left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` keys (J7-class — the
    reference approximates this with next-day self-joins, J3; DuckDB
    has it native as ASOF JOIN, our oracle).

    Spark-first strategy: **union + ordered window forward-fill**, not
    a range join — one shuffle on (keys, ts) total. Both sides union
    with a side marker; a window partitioned by the keys and ordered by
    (ts, side) forward-fills the right payload onto every later left
    row. At equal timestamps the right row sorts FIRST so `<=`
    semantics hold. Scales as a single sort per key group — no
    quadratic candidate pairs, no nested-loop band join.
    """
    keys = list(on)
    lcols = [c for c in left.columns if c not in keys]
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c != left_ts],
        F.col(left_ts),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols if c != left_ts],
        F.lit(None).cast(dict(left.dtypes)[left_ts]).alias(left_ts),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = l.unionByName(r)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
            for c in right_cols
        ],
    )
    out = filled.filter(F.col("__side") == 1).select(
        *keys,
        *[c for c in lcols if c != left_ts],
        left_ts,
        *[F.col(f"__f_{c}").alias(f"asof_{c}") for c in right_cols],
    )
    if how == "inner":
        out = out.filter(F.col(f"asof_{right_cols[0]}").isNotNull())
    return out


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    bucket_s: int | None = None,
) -> DataFrame:
    """Band/interval join: pairs where
    ``left_ts + lower_s <= right_ts < left_ts + upper_s`` within the
    same keys (J7 theta/range join — absent from the reference, where
    range predicates were run as separate queries).

    Naive Spark planning of a pure inequality join is a nested loop;
    the scale shape here is **bucketized equi-join**: quantize time to
    ``bucket_s``-second bins, explode the left row to every bin its
    interval can touch, equi-join on (keys, bin) — a hash shuffle —
    then apply the exact band predicate. Candidate fan-out is
    |interval|/bucket + 1 per row, independent of table size.
    """
    if bucket_s is None:
        bucket_s = max(upper_s - lower_s, 1)
    keys = list(on)
    span = upper_s - lower_s
    n_buckets = span // bucket_s + 1
    lmod = left.select(
        *keys,
        F.col(left_ts).alias("__lts"),
        *[c for c in left.columns if c not in keys and c != left_ts],
        F.explode(
            F.sequence(
                F.floor((F.unix_timestamp(F.col(left_ts)) + lower_s) / bucket_s).cast("long"),
                F.floor((F.unix_timestamp(F.col(left_ts)) + upper_s) / bucket_s).cast("long"),
            )
        ).alias("__bin"),
    )
    rmod = right.select(
        *keys,
        F.col(right_ts).alias("__rts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in keys and c != right_ts
        ],
        F.floor(F.unix_timestamp(F.col(right_ts)) / bucket_s).cast("long").alias("__bin"),
    )
    joined = lmod.join(rmod, on=[*keys, "__bin"])
    lsec = F.unix_timestamp("__lts")
    rsec = F.unix_timestamp("__rts")
    exact = (rsec >= lsec + lower_s) & (rsec < lsec + upper_s)
    return (
        joined.filter(exact)
        .drop("__bin")
        .withColumnRenamed("__lts", left_ts)
        .withColumnRenamed("__rts", f"right_{right_ts}")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: tuple[str, str, str],
    right_cols: tuple[str, str, str],
    bucket_s: int = 3600,
    max_bins_per_row: int = 4096,
) -> DataFrame:
    """Two-sided interval-overlap join — pairs whose [start, end]
    spans intersect (inclusive): the generalization of the band range
    join to interval×interval (concurrency analysis, meeting overlap,
    session co-presence).

    ``left_cols``/``right_cols`` are (id, start, end). Scale shape:
    each interval is exploded to every ``bucket_s`` bin it covers, the
    join is a (bin) hash equi-join, the exact overlap predicate
    filters, and bucket-duplicate pairs collapse with one distinct.
    Candidate fan-out per row is |interval|/bucket + 1, independent of
    table size; a naive inequality join would plan a nested loop over
    the full cross product.

    Fan-out guard (the LSH hot-bucket-cap philosophy applied here): a
    single pathological interval — one year at the default 1-hour
    bucket is ~8 760 bins, a mis-parsed epoch-0 start is millions —
    would silently explode the candidate table. Rows needing more
    than ``max_bins_per_row`` bins fail the job LOUDLY (raise_error
    inside the plan) instead: clamping would drop true overlaps, and
    the right fix is a coarser ``bucket_s`` for that data, which the
    error message says."""
    lid, ls, le = left_cols
    rid, rs, re_ = right_cols

    def bins(df, id_c, s_c, e_c, prefix):
        lo = F.floor(F.col(f"{prefix}_start") / bucket_s).cast("long")
        hi = F.floor(F.col(f"{prefix}_end") / bucket_s).cast("long")
        n_bins = hi - lo + 1
        guarded = F.when(
            n_bins <= max_bins_per_row, F.sequence(lo, hi)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "interval_overlap_join: interval needs "
                    ),
                    n_bins.cast("string"),
                    F.lit(
                        f" bins (> max_bins_per_row={max_bins_per_row}"
                        f" at bucket_s={bucket_s}); raise bucket_s or"
                        " filter degenerate intervals"
                    ),
                )
            )
        )
        return df.select(
            F.col(id_c).alias(f"{prefix}_id"),
            F.unix_timestamp(F.col(s_c)).alias(f"{prefix}_start"),
            F.unix_timestamp(F.col(e_c)).alias(f"{prefix}_end"),
        ).select("*", F.explode(guarded).alias("__bin"))

    l = bins(left, lid, ls, le, "l")
    r = bins(right, rid, rs, re_, "r")
    overlap = (F.col("l_start") <= F.col("r_end")) & (
        F.col("r_start") <= F.col("l_end")
    )
    return (
        l.join(r, on="__bin")
        .filter(overlap)
        .select("l_id", "r_id", "l_start", "l_end", "r_start", "r_end")
        .distinct()
    )


def bloom_filter_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """ONE-ROW packed Bloom filter over the build side's join keys:
    an ``array<long>`` of ``num_bits/64`` words, each the bit_or of
    the hash bits landing in it (Bloom 1970; the runtime-filter
    technique Spark itself applies under
    spark.sql.optimizer.runtime.bloomFilter — re-expressed here as an
    explicit, composable operator the caller controls).

    Shape: explode k=``num_hashes`` xxhash64 bit positions per key,
    ONE (word)-keyed aggregation packs them — the exchange carries at
    most ``num_bits/64`` rows per partition regardless of build-side
    size (bounded-state, the HLL-register shape), and the result is a
    single row of ``num_bits/8`` bytes that broadcasts for free.

    Hash choice is unconstrained by any oracle: a Bloom prune is
    RESULT-TRANSPARENT (no false negatives; false positives are
    eliminated by the real join that follows), so differential tests
    compare final join results, never filter internals."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    n_words = num_bits // 64
    bits = keys.select(
        F.explode(
            F.array(*[
                F.pmod(
                    F.xxhash64(F.lit(s), F.col(key_col)), F.lit(num_bits)
                ).alias("b")
                for s in range(num_hashes)
            ])
        ).alias("__bit")
    )
    packed = (
        bits.select(
            (F.col("__bit") / 64).cast("int").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__bit % 64 AS INT))"
            ).alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__word"))
    )
    return packed.agg(
        F.map_from_arrays(
            F.collect_list("__w"), F.collect_list("__word")
        ).alias("__bmap")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at("__bmap", i), F.lit(0).cast("long")
            ),
        ).alias("__bloom")
    )


def bloom_prune(
    df: DataFrame,
    key_col: str,
    bloom_row: DataFrame,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """Filter ``df`` to rows whose ``key_col`` MIGHT be in the Bloom
    filter (all k bits set) — the probe half of a Bloom-pruned join.

    The one-row filter crossJoins on (broadcast, bounded — the
    repo-standard one-row-stat shape) and the membership test is a
    pure scan-level expression inside whole-stage codegen, so at
    cluster scale the prune happens BEFORE the probe side's shuffle:
    for a fact-fact join where the dim's keys are selective but the
    dim itself is too big to broadcast, the 8 KB bloom cuts shuffled
    probe rows to (selectivity + FP-rate) of the input. With
    num_bits=2^16 / k=3 and ≤6k build keys, FP ≈ (1-e^(-3*6k/65536))^3
    ≈ 1.6%."""
    aug = df.crossJoin(F.broadcast(bloom_row))
    # the bit position is computed ONCE per seed as a named column so
    # the word lookup and the mask use the identical hash (xxhash64 is
    # seed-TYPE-sensitive: int vs bigint seeds hash differently)
    bit_cols = []
    for s in range(num_hashes):
        bc = f"__bit{s}"
        bit_cols.append(bc)
        aug = aug.withColumn(
            bc,
            F.pmod(F.xxhash64(F.lit(s), F.col(key_col)), F.lit(num_bits)),
        )
    cond = None
    for bc in bit_cols:
        word = F.element_at("__bloom", (F.col(bc) / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({bc} % 64 AS INT))"
        )
        c = word.bitwiseAND(mask) == mask
        cond = c if cond is None else (cond & c)
    return aug.filter(cond).drop("__bloom", *bit_cols)


def explode_pairs(
    df: DataFrame,
    arr: str,
    make: Callable[[Column, Column], Sequence[Column]],
) -> DataFrame:
    """All (arr[i], arr[j]) pairs with i < j of each row's array, one
    output row per pair carrying the columns ``make(a, b)`` returns.
    This is the in-bucket candidate-pair step that replaces a bucket
    self-join: one aggregation collects each bucket's members, and the
    pairs are expanded in-array instead of evaluating and shuffling
    the bucket lineage twice. Callers sort the array upstream when
    they need a < b.

    The expansion runs in two levels — ``posexplode(arr)``, then
    ``explode(slice(arr, i+2, size-i-1))`` — so no row ever holds more
    than one copy of ``arr``; a bucket's whole C(n,2) pair array is
    never built as one row value. NULL, empty and one-element arrays
    yield no rows."""
    elems = df.select(F.posexplode(arr).alias("__i", "__a"), arr)
    tail = F.slice(arr, F.col("__i") + 2, F.size(arr) - F.col("__i") - 1)
    return elems.select("__a", F.explode(tail).alias("__b")).select(
        *make(F.col("__a"), F.col("__b"))
    )
