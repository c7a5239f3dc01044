"""Statistical operators (SURVEY.md §2.9 ST1-ST16).

The reference computes these in pandas/scipy on collected results; in
this engine they are Spark aggregates wherever a closed form exists
(Pearson + OLS + t-stat, Spearman via average ranks, Mann-Whitney U
with normal approximation, z-score anomalies, trend slopes, the
Bayesian Normal-Normal update, DiD) so they distribute. scipy is used
only behind Arrow-batched ``applyInPandas`` for the handful of
quantities with no closed form (exact p-values from t/U
distributions, LOWESS), and those paths degrade gracefully when scipy
is absent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def safe_corr(x: Column | str, y: Column | str) -> Column:
    """ANSI-safe Pearson correlation AGGREGATE: NULL on zero-variance
    input, where ``F.corr`` itself raises DIVIDE_BY_ZERO under Spark
    4's default ANSI mode (its final co-moment division is an
    unguarded Divide). Same closed form the r11 audit adopted inside
    pearson_ols / rolling_corr; r12 extends it to the suite- and
    view-level ``F.corr`` call sites the r11 sweep didn't reach.
    Matches scipy's NaN→(our NULL) on constant series.

    PAIRWISE-COMPLETE like ``F.corr``: both inputs are masked to rows
    where BOTH are non-null before the moments — a bare
    ``stddev_samp(x)`` would otherwise include rows whose y is NULL
    (e.g. the lead() tail of a lagged scan) and silently shift r."""
    xcol = F.col(x) if isinstance(x, str) else x
    ycol = F.col(y) if isinstance(y, str) else y
    both = xcol.isNotNull() & ycol.isNotNull()
    xp = F.when(both, xcol)
    yp = F.when(both, ycol)
    return F.try_divide(
        F.covar_samp(xp, yp), F.stddev_samp(xp) * F.stddev_samp(yp)
    )


def safe_corr_sql(x: str, y: str) -> str:
    """``safe_corr`` as Spark SQL over the expressions ``x`` and ``y``."""
    both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
    xp = f"CASE WHEN {both} THEN {x} END"
    yp = f"CASE WHEN {both} THEN {y} END"
    return (
        f"try_divide(covar_samp({xp}, {yp}), "
        f"stddev_samp({xp}) * stddev_samp({yp}))"
    )


def pearson_ols(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Pearson r + OLS slope/intercept/stderr/t-stat, closed form
    (ST1, ref insights/sleep_readiness.py:58-82 — scipy.pearsonr /
    linregress re-expressed as distributed aggregates).

    slope = cov(x,y)/var(x); intercept = ȳ − slope·x̄;
    t = r·sqrt((n−2)/(1−r²)); stderr = slope/t.

    Every division is try_divide (NULL on 0, like scipy's NaN and the
    SQL oracles' CORR) because under ANSI mode (Spark 4 default) the
    raw forms RAISE on realistic degenerate groups — r11 ANSI audit:
    a constant-x group crashes F.corr itself AND cov/var; a perfectly
    collinear group (|r| = 1) crashes the (1−r²) division; an n=2
    group has t=0 and crashes stderr. At scale, ONE such group in a
    per-entity scan used to abort the entire job.
    """
    gb = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).groupBy(
        *group_cols
    )
    agg = gb.agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_samp(x, y).alias("_cov"),
        F.var_samp(x).alias("_varx"),
        F.stddev_samp(x).alias("_sdx"),
        F.stddev_samp(y).alias("_sdy"),
        F.avg(x).alias("_mx"),
        F.avg(y).alias("_my"),
    )
    r = F.try_divide(F.col("_cov"), F.col("_sdx") * F.col("_sdy"))
    slope = F.try_divide(F.col("_cov"), F.col("_varx"))
    intercept = F.col("_my") - slope * F.col("_mx")
    agg = agg.withColumn("r", r)
    # (1 − r²) is clamped at 0: a perfectly collinear group with
    # VARYING x yields r computed from two float paths (covar vs
    # sd·sd), so r² can overshoot 1 by an ulp — unclamped, the tiny
    # negative denominator survives try_divide and sqrt returns NaN
    # instead of the documented NULL (r12, ADVICE r11). Clamped, both
    # exact |r|=1 and the overshoot map to try_divide(·, 0) → NULL,
    # matching scipy's non-finite t for collinear input.
    t_stat = F.col("r") * F.sqrt(
        F.try_divide(
            F.col("n") - 2,
            F.greatest(1 - F.col("r") * F.col("r"), F.lit(0.0)),
        )
    )
    return agg.select(
        *group_cols,
        "n",
        "r",
        slope.alias("slope"),
        intercept.alias("intercept"),
        t_stat.alias("t_stat"),
        F.try_divide(slope, t_stat).alias("stderr"),
    )


def _avg_rank(col: str, partition_by: Sequence[str] = ()) -> Column:
    """Average (fractional) rank with ties — matches
    ``scipy.stats.rankdata`` / pandas ``rank(method='average')``.

    avg_rank(v) = count(x < v) + (count(x = v) + 1) / 2, computed as
    rank() + (tie_count − 1)/2.

    r13: the tie count rides the SAME (partition, order) window spec
    as the rank, as a RANGE CURRENT ROW..CURRENT ROW frame (SQL range
    frames bounded by CURRENT ROW span the whole peer group — rows
    tied on the order key, NULLs being mutual peers — so the count is
    identical to the old Window.partitionBy(partition, col) spec).
    One spec means one exchange + one sort per rank axis; the old
    second spec hash-partitioned by (partition, col) and cost every
    ranking consumer an extra exchange per axis.
    """
    w = Window.partitionBy(*partition_by).orderBy(col)
    return F.rank().over(w) + (
        F.count(F.lit(1)).over(w.rangeBetween(0, 0)) - 1
    ) / 2.0


def spearman(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Spearman ρ = Pearson r of average ranks — exact under ties
    (ST2, ref insights/timing_correlation.py:102). Distributed: two
    rank windows + one aggregate; no pandas.

    ρ comes from EXACT SUMS, not the streaming ``corr`` aggregate:
    average ranks are half-integers, so Σr, Σr², Σr·r' are all
    integer-quarters — exactly representable and therefore identical
    under ANY summation order or thread count, in Spark AND DuckDB.
    ``corr``'s streaming-moment merge is order-sensitive at the ulp,
    which the r9 sf0.1 sweep caught flipping a 6-decimal ROUND
    boundary run-to-run (DuckDB multithreaded CORR: user 1319's
    rho alternated 0.373437/0.373438). With exact sums both engines
    evaluate the identical closed form on identical doubles —
    boundary cases cannot diverge.

    Exactness bound: the argument holds while the quarter-integer
    sums stay below 2^53 quarters, i.e. Σr·r' < 2^51 ≈ 2.3e15 —
    with ranks ≤ n that is guaranteed for group sizes n ≤ ~130 000
    (n·n² ≤ 2^51). Beyond that the sums lose ulps and become
    order-sensitive again; per-group corpora here are daily series
    (≤ a few thousand rows), far inside the bound. Callers ranking
    groups past ~1e5 rows should not rely on cross-engine
    bit-identity at ROUND boundaries."""
    d = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
    d = d.withColumn("_rx", _avg_rank(x, group_cols)).withColumn(
        "_ry", _avg_rank(y, group_cols)
    )
    agg = d.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_rx").alias("_sx"),
        F.sum("_ry").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
    )
    num = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dd = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")) * (
        F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    )
    return agg.select(
        *group_cols,
        "n",
        F.when(dd > 0, num / F.sqrt(dd)).alias("rho"),
    )


def mann_whitney_u(
    df: DataFrame,
    value: str,
    group: str,
    group_a,
    group_b,
    by: Sequence[str] = (),
) -> DataFrame:
    """Mann-Whitney U with tie-corrected normal approximation (ST3,
    ref insights/workout_recovery.py:98-110).

    U1 = R1 − n1(n1+1)/2 over pooled average ranks; z uses the
    tie-correction term Σ(t³−t). Closed-form distributed version of
    what the reference does with ``scipy.stats.mannwhitneyu``; the
    normal approximation is the standard large-sample form (scipy's
    ``method='asymptotic'`` without continuity correction).
    """
    d = df.filter(F.col(group).isin([group_a, group_b])).filter(
        F.col(value).isNotNull()
    )
    d = d.withColumn("_r", _avg_rank(value, by))
    ties = d.groupBy(*by, value).agg(F.count(F.lit(1)).alias("_t"))
    tie_term = ties.groupBy(*by).agg(
        F.sum(F.pow("_t", 3) - F.col("_t")).alias("_tie_sum")
    )
    agg = d.groupBy(*by).agg(
        F.sum(F.when(F.col(group) == group_a, F.col("_r"))).alias("_r1"),
        F.count(F.when(F.col(group) == group_a, 1)).alias("n1"),
        F.count(F.when(F.col(group) == group_b, 1)).alias("n2"),
    )
    if by:
        agg = agg.join(tie_term, on=list(by))
    else:
        agg = agg.crossJoin(tie_term)
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1 = F.col("_r1") - n1 * (n1 + 1) / 2
    mu = n1 * n2 / 2
    # try_divide (r11 ANSI audit): n ≤ 1 (one arm empty) zeroes the
    # tie-ratio denominator, and an all-tied pool zeroes sigma — both
    # raised under ANSI mode and aborted the job; scipy returns NaN.
    sigma = F.sqrt(
        (n1 * n2 / 12.0)
        * ((n + 1) - F.try_divide(F.col("_tie_sum"), n * (n - 1)))
    )
    z = F.try_divide(u1 - mu, sigma)
    return agg.select(
        *by,
        "n1",
        "n2",
        u1.alias("u1"),
        z.alias("z"),
    )


def zscore_anomalies(
    df: DataFrame,
    value: str,
    threshold_sigmas: float = 1.5,
    by: Sequence[str] = (),
) -> DataFrame:
    """Flag rows below mean − k·σ (ST6, ref insights/anomaly_detection
    .py:40-85): global (or per-entity) stats aggregated once, then
    broadcast back over the rows — no self-shuffle of the fact side."""
    stats = df.groupBy(*by).agg(
        F.avg(value).alias("_mean"), F.stddev(value).alias("_std")
    )
    joined = (
        df.join(F.broadcast(stats), on=list(by))
        if by
        else df.crossJoin(F.broadcast(stats))
    )
    deviation = (F.col(value) - F.col("_mean")) / F.col("_std")
    return (
        joined.filter(
            F.col(value) < F.col("_mean") - threshold_sigmas * F.col("_std")
        )
        .withColumn("deviation_sigmas", deviation)
        .drop("_mean", "_std")
    )


def trend_slope(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: Sequence[str] = (),
    stable_band: float = 0.3,
) -> DataFrame:
    """OLS slope classified improving/stable/declining (ST7, ref
    insights/readiness_trend.py:43-64) via the native ``regr_slope``
    aggregate."""
    agg = df.groupBy(*group_cols).agg(
        F.regr_slope(F.col(y), F.col(x)).alias("slope"),
        F.regr_intercept(F.col(y), F.col(x)).alias("intercept"),
        F.regr_count(F.col(y), F.col(x)).alias("n"),
    )
    label = (
        F.when(F.col("slope") > stable_band, "improving")
        .when(F.col("slope") < -stable_band, "declining")
        .otherwise("stable")
    )
    return agg.withColumn("trend", label)


def bayesian_effect(
    df: DataFrame,
    value: str,
    period: str,
    pre_label: str = "pre",
    post_label: str = "post",
) -> DataFrame:
    """Normal-Normal conjugate update (ST10, ref experiments/analyzer
    .py:105-171): weakly informative prior = N(pre_mean, pre_std²)
    (the FULL pre variance, not the standard error — the reference's
    choice, so a well-sampled post period dominates); likelihood =
    post mean with var σ₁²/n₁; posterior effect + 95% CI + Cohen's d
    (measured on the posterior effect, per the reference). Pure closed
    form over two groups' (mean, std, n) — one aggregate, driver-free.
    """
    agg = df.groupBy().pivot(period, [pre_label, post_label]).agg(
        F.avg(value).alias("mean"),
        F.stddev(value).alias("std"),
        F.count(value).alias("n"),
    )
    pre_m, pre_s, pre_n = (
        F.col(f"{pre_label}_mean"),
        F.col(f"{pre_label}_std"),
        F.col(f"{pre_label}_n"),
    )
    post_m, post_s, post_n = (
        F.col(f"{post_label}_mean"),
        F.col(f"{post_label}_std"),
        F.col(f"{post_label}_n"),
    )
    # try_divide throughout (r11 ANSI audit): a CONSTANT pre or post
    # period zeroes prior_var/like_var, and two 1-row periods zero the
    # pooled-variance dof — each raised under ANSI mode and aborted
    # the job. NULL (undefined posterior) mirrors numpy's inf/nan
    # arithmetic collapsing the same cases.
    prior_var = pre_s * pre_s
    like_var = F.try_divide(post_s * post_s, post_n)
    post_var = F.try_divide(
        F.lit(1.0),
        F.try_divide(F.lit(1.0), prior_var)
        + F.try_divide(F.lit(1.0), like_var),
    )
    post_mean = post_var * (
        F.try_divide(pre_m, prior_var) + F.try_divide(post_m, like_var)
    )
    effect = post_mean - pre_m
    ci = 1.96 * F.sqrt(post_var)
    pooled = F.sqrt(
        F.try_divide(
            (pre_n - 1) * pre_s * pre_s + (post_n - 1) * post_s * post_s,
            pre_n + post_n - 2,
        )
    )
    return agg.select(
        effect.alias("effect"),
        (effect - ci).alias("ci_low"),
        (effect + ci).alias("ci_high"),
        F.try_divide(effect, pooled).alias("cohens_d"),
        pre_n.alias("n_pre"),
        post_n.alias("n_post"),
    )


def seasonal_decompose(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of per-entity daily
    series: observed = trend + seasonal + residual, with trend = the
    centered ``period``-row rolling mean, seasonal = the per-phase
    mean detrended residual re-centered to sum 0 over a period (the
    classical-decomposition construction), residual = what's left.
    Phase is pure date arithmetic (days since epoch mod period), so
    every engine agrees on weekday alignment without dialect-specific
    DOW numbering.

    Scale shape: one window partitioned BY ENTITY (series
    parallelism = entity count; no global sort), one tiny per-(entity,
    phase) aggregate broadcast back. Health-data seasonality (weekday
    effects in readiness/training load) is the reference's analytics
    domain; this gives its views a decomposition primitive.
    """
    w7 = (
        Window.partitionBy(entity_col)
        .orderBy(date_col)
        .rowsBetween(-(period // 2), period // 2)
    )
    base = df.select(
        entity_col,
        date_col,
        F.col(value_col).alias("observed"),
    ).withColumn("trend", F.avg("observed").over(w7))
    phase = (
        F.datediff(F.col(date_col), F.to_date(F.lit("1970-01-05"))) % period
    ).alias("phase")  # 1970-01-05 is a Monday: phase 0 = Monday
    detr = base.withColumn("phase", phase).withColumn(
        "detr", F.col("observed") - F.col("trend")
    )
    smeans = detr.groupBy(entity_col, "phase").agg(
        F.avg("detr").alias("s_raw")
    )
    scentered = smeans.withColumn(
        "seasonal",
        F.col("s_raw")
        - F.avg("s_raw").over(Window.partitionBy(entity_col)),
    ).select(entity_col, "phase", "seasonal")
    return (
        detr.join(F.broadcast(scentered), on=[entity_col, "phase"])
        .select(
            entity_col,
            date_col,
            "observed",
            "trend",
            "seasonal",
            (F.col("observed") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
    )


def welch_t(
    df: DataFrame,
    value: str,
    group: str,
    g1: str,
    g2: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups, closed form
    (the scipy.ttest_ind(equal_var=False) twin of the reference's
    pre/post comparisons, experiments/analyzer.py:105-171 family).

    t = (m1 − m2) / sqrt(v1/n1 + v2/n2); the Welch–Satterthwaite
    degrees of freedom df = (v1/n1 + v2/n2)² /
    ((v1/n1)²/(n1−1) + (v2/n2)²/(n2−1)). One pivot aggregate —
    map-side partials, a single one-row result; nothing to shuffle
    but two partial-state rows per partition at any scale.
    """
    agg = (
        df.filter(F.col(group).isin(g1, g2) & F.col(value).isNotNull())
        .groupBy()
        .pivot(group, [g1, g2])
        .agg(
            F.avg(value).alias("mean"),
            F.var_samp(value).alias("var"),
            F.count(value).alias("n"),
        )
    )
    m1, v1, n1 = F.col(f"{g1}_mean"), F.col(f"{g1}_var"), F.col(f"{g1}_n")
    m2, v2, n2 = F.col(f"{g2}_mean"), F.col(f"{g2}_var"), F.col(f"{g2}_n")
    se2 = v1 / n1 + v2 / n2
    # try_divide (r11 ANSI audit): two constant groups zero se2 (t
    # raised under ANSI), and se2 = 0 also zeroes the dof denominator;
    # scipy returns nan for both.
    t = F.try_divide(m1 - m2, F.sqrt(se2))
    dof = F.try_divide(
        se2 * se2,
        (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1),
    )
    return agg.select(
        n1.alias("n1"),
        n2.alias("n2"),
        m1.alias("mean1"),
        m2.alias("mean2"),
        t.alias("t_stat"),
        dof.alias("welch_df"),
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson χ² test of independence over an R×C contingency table.

    Observed counts come from ONE groupBy over the fact table (the
    only full-data pass); row/column margins are windows over the
    tiny R·C-row contingency frame, so the fact table is never
    re-shuffled. Returns (chi2, dof, n).
    """
    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    wall = Window.partitionBy()
    cells = obs.select(
        row_col,
        col_col,
        "o",
        F.sum("o").over(wr).alias("rt"),
        F.sum("o").over(wc).alias("ct"),
        F.sum("o").over(wall).alias("n"),
    ).withColumn("e", F.col("rt") * F.col("ct") / F.col("n"))
    return cells.agg(
        F.sum(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
        ).alias("chi2"),
        (
            (F.count_distinct(F.col(row_col)) - 1)
            * (F.count_distinct(F.col(col_col)) - 1)
        ).alias("dof"),
        F.sum("o").alias("n"),
    )


def ks_two_sample(
    df: DataFrame,
    value: str,
    group: str,
    g1: str,
    g2: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D = sup |F1(x) − F2(x)|, exact
    under ties (scipy.ks_2samp twin).

    Shape: the full data collapses to per-DISTINCT-value counts in
    one groupBy (map-side combine), then one cumulative window over
    the distinct-value frame — |distinct values| rows, not |rows| —
    computes both ECDFs and their sup-gap. The single-partition
    window is bounded by the distinct-value cardinality; for
    continuous measures, quantize first (the classical binned-KS
    trade-off).
    """
    pool = df.filter(
        F.col(group).isin(g1, g2) & F.col(value).isNotNull()
    ).select(F.col(value).alias("v"), F.col(group).alias("g"))
    per_v = pool.groupBy("v").agg(
        F.sum(F.when(F.col("g") == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == g2, 1).otherwise(0)).alias("c2"),
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    # try_divide (r11 ANSI audit): a pool where one group is absent
    # zeroes that ECDF's denominator — D is undefined, not a crash.
    ecdf = per_v.select(
        F.try_divide(
            F.sum("c1").over(wcum), F.sum("c1").over(wall)
        ).alias("f1"),
        F.try_divide(
            F.sum("c2").over(wcum), F.sum("c2").over(wall)
        ).alias("f2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    return ecdf.agg(
        F.max(F.abs(F.col("f1") - F.col("f2"))).alias("ks_d"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )


def mad_anomalies(
    df: DataFrame,
    value: str,
    by: Sequence[str] = (),
    k_sigmas: float = 3.0,
) -> DataFrame:
    """Robust anomaly counts via Median Absolute Deviation: a point is
    anomalous when |x − median| > k · 1.4826 · MAD (the Gaussian-
    consistent robust z-score; Leys et al. 2013 — the robust twin of
    zscore_anomalies/ST6, immune to the anomalies inflating σ).

    Two exact-percentile aggregates with the tiny per-group stats
    broadcast back between passes; the fact side is scanned, never
    shuffled. At 100 TB swap ``percentile`` for ``approx_percentile``
    (same plan shape, sketch-mergeable partials).
    """
    byl = list(by)
    med = df.filter(F.col(value).isNotNull()).groupBy(*byl).agg(
        F.percentile(F.col(value), F.lit(0.5)).alias("med"),
        F.count(value).alias("n"),
    )
    base = df.filter(F.col(value).isNotNull())
    j1 = (
        base.join(F.broadcast(med), on=byl)
        if byl
        else base.crossJoin(F.broadcast(med))
    )
    madf = j1.groupBy(*byl).agg(
        F.percentile(F.abs(F.col(value) - F.col("med")), F.lit(0.5)).alias(
            "mad"
        ),
        F.first("med").alias("med"),
        F.first("n").alias("n"),
    )
    j2 = (
        base.join(F.broadcast(madf), on=byl)
        if byl
        else base.crossJoin(F.broadcast(madf))
    )
    return j2.groupBy(*byl).agg(
        F.first("med").alias("median"),
        F.first("mad").alias("mad"),
        F.first("n").alias("n"),
        F.sum(
            F.when(
                F.abs(F.col(value) - F.col("med"))
                > F.lit(k_sigmas) * F.lit(1.4826) * F.col("mad"),
                1,
            ).otherwise(0)
        ).alias("n_anomalies"),
    )


def acf(
    df: DataFrame,
    order_col: str,
    value: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function at lags 1..max_lag with the standard
    biased estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² (the
    statsmodels.acf default, shared denominator — NOT per-lag
    Pearson).

    Global mean broadcast back (one tiny aggregate), then ONE window
    pass producing all lag columns, then one aggregate unpivoted to
    (lag, acf) rows. The series frame is the already-aggregated
    daily rollup, so the single-partition order window is bounded.
    """
    stats = df.agg(F.avg(value).alias("xbar"))
    dev = df.crossJoin(F.broadcast(stats)).select(
        F.col(order_col).alias("t"),
        (F.col(value) - F.col("xbar")).alias("d"),
    )
    w = Window.orderBy("t")
    lagged = dev.select(
        "d",
        *[F.lag("d", k).over(w).alias(f"d{k}") for k in range(1, max_lag + 1)],
    )
    agg = lagged.agg(
        F.sum(F.col("d") * F.col("d")).alias("ss"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"s{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    # try_divide (r11 ANSI audit): a constant series zeroes the shared
    # denominator ss — ACF undefined (statsmodels emits nan), not a
    # job abort.
    pairs = ", ".join(
        f"{k}, try_divide(s{k}, ss)" for k in range(1, max_lag + 1)
    )
    return agg.select(
        F.expr(f"stack({max_lag}, {pairs}) AS (lag, acf)")
    ).select(F.col("lag").cast("int").alias("lag"), "acf")


def cusum_changepoint(
    df: DataFrame, order_col: str, value: str
) -> DataFrame:
    """CUSUM mean-shift changepoint: S_t = Σ_{i≤t}(x_i − x̄); the
    changepoint is the argmax of |S_t| and the normalized statistic
    max|S|/(σ̂·√n) (Page 1954 / the standard bootstrap-CUSUM pivot).
    Ties break on the earliest timestamp so every engine agrees.

    One broadcast stats row + one cumulative window over the (already
    aggregated, bounded) series + TakeOrderedAndProject — no full
    sort materialized.
    """
    stats = df.agg(
        F.avg(value).alias("xbar"),
        F.stddev(value).alias("sd"),
        F.count(value).alias("n"),
    )
    wcum = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("s", F.sum(F.col(value) - F.col("xbar")).over(wcum))
        .select(
            F.col(order_col).alias("cp"),
            F.abs(F.col("s")).alias("max_abs_s"),
            # try_divide (r11 ANSI audit): constant series → sd = 0
            F.try_divide(
                F.abs(F.col("s")), F.col("sd") * F.sqrt(F.col("n"))
            ).alias("stat"),
            F.col("n"),
        )
    )
    return s.orderBy(F.col("max_abs_s").desc(), F.col("cp").asc()).limit(1)


def theil_sen(
    df: DataFrame,
    entity_col: str,
    x: str,
    y: str,
    max_points: int = 512,
) -> DataFrame:
    """Per-entity Theil–Sen robust slope: the median of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), x_i < x_j (the scipy.theilslopes
    estimator, robust to ~29% outliers — the robust twin of
    trend_slope/ST7).

    The O(n²) pair expansion happens INSIDE each entity's series
    (equi-join on the entity key, pairs filtered x_i < x_j), so the
    shuffle is one hash partition by entity and the blow-up is
    bounded by the per-entity series length — enforced: series longer
    than ``max_points`` raise rather than silently exploding
    (max_points² pairs/entity is the cost ceiling a planner can
    budget; same philosophy as the LSH hot-bucket cap).
    """
    base = df.select(
        F.col(entity_col).alias("e"),
        F.col(x).alias("x"),
        F.col(y).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    guard = base.groupBy("e").agg(F.count(F.lit(1)).alias("cnt"))
    # The guard is a FILTER (not a projected column) so Catalyst can't
    # prune it away: every row must pass the when(), and an oversized
    # series hits raise_error before the pair expansion runs.
    checked = (
        base.join(F.broadcast(guard), "e")
        .filter(
            F.when(F.col("cnt") <= max_points, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "theil_sen: series exceeds "
                            f"max_points={max_points} for entity "
                        ),
                        F.col("e").cast("string"),
                    )
                ).cast("boolean")
            )
        )
        .select("e", "x", "y")
    )
    a = checked.alias("a")
    b = checked.alias("b")
    pairs = a.join(b, on=F.col("a.e") == F.col("b.e")).filter(
        F.col("a.x") < F.col("b.x")
    )
    slope = (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))
    # DISCRETE lower median (sorted element ceil(n/2)), not the
    # interpolated percentile: averaging two middle slopes lands on
    # round-boundary values that engines tip differently (a 1-ulp
    # interpolation difference flipped one user's 6-decimal hash at
    # sf0.1); picking an ELEMENT is bit-exact by construction.
    sl = pairs.select(F.col("a.e").alias(entity_col), slope.alias("sl"))
    wrk = Window.partitionBy(entity_col).orderBy("sl")
    wall = Window.partitionBy(entity_col)
    ranked = sl.select(
        entity_col,
        "sl",
        F.row_number().over(wrk).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    return (
        ranked.filter(
            F.col("__rn") == F.ceil(F.col("__n") / 2.0).cast("int")
        )
        .select(
            entity_col,
            F.col("sl").alias("sen_slope"),
            F.col("__n").alias("n_pairs"),
        )
    )


def normal_sf_approx(z: Column) -> Column:
    """Upper-tail normal probability P(Z > z) for z ≥ 0 via the
    Zelen–Severo 26.2.17 polynomial (|ε| < 7.5e-8): pure arithmetic
    (exp + polynomial), so ANY engine reproduces it bit-comparably —
    the property that lets p-values participate in cross-engine hash
    contracts where erf/erfc builtins differ or don't exist.
    """
    t = 1.0 / (1.0 + 0.2316419 * z)
    phi = F.exp(-z * z / 2.0) / F.lit(2.5066282746310002)  # sqrt(2π)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    return phi * poly


def holt_linear(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear-trend (double) exponential smoothing per entity:
    l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1},
    initialized l₁=x₁, b₁=x₂−x₁; returns the final (level, trend) and
    the h-step forecast level + h·trend (statsmodels Holt(damped=False)
    recurrence).

    The recurrence is inherently sequential PER SERIES but embarrass-
    ingly parallel ACROSS series — so it runs as a JVM-side
    ``F.aggregate`` fold over each entity's collected series array:
    one shuffle to group, no Python, no window. Series length must be
    driver-bounded like every collected-series op (daily grain:
    years ≈ thousands of elements — fine); entities with <2 points
    are dropped (the recursion is undefined).
    """
    series = (
        df.filter(F.col(value).isNotNull())
        .groupBy(entity_col)
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col(order_col).alias("o"),
                            F.col(value).alias("x"),
                        )
                    )
                ),
                lambda s: s.x,
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2)
    )
    a, b = float(alpha), float(beta)
    init = F.struct(
        F.element_at("xs", 1).alias("l"),
        (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
    )

    def _step(acc, x):
        new_l = F.lit(a) * x + F.lit(1 - a) * (acc.l + acc.b)
        new_b = F.lit(b) * (new_l - acc.l) + F.lit(1 - b) * acc.b
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = series.select(
        entity_col,
        F.size("xs").alias("n_obs"),
        F.aggregate(
            F.slice(F.col("xs"), 3, F.greatest(F.size("xs") - 2, F.lit(0))),
            init,
            _step,
        ).alias("st"),
    )
    return folded.select(
        entity_col,
        "n_obs",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.lit(float(horizon)) * F.col("st.b")).alias(
            "forecast"
        ),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier product-limit survival estimator over
    (duration, event) observations; ``event_col`` is 1 for an
    observed event (e.g. churn) and 0 for right-censoring. Returns
    one row per EVENT time: (duration, n_events, n_censored, n_risk,
    survival), survival = Π_{t' ≤ t} (1 − d_t'/n_t').

    Distribution: the corpus-scale pass is ONE map-side-combined
    groupBy(duration); everything after runs on the per-distinct-
    duration frame, whose size is bounded by the duration domain
    (calendar days for churn analyses), so the unpartitioned
    cumulative windows never see more than that many rows. The
    product is taken as exp(Σ ln·) with an explicit absorbing-zero
    flag (d_t = n_t ⇒ S = 0 from then on) so neither engine ever
    evaluates ln(0).
    """
    by_t = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(F.col(event_col)).alias("d"),
        F.sum(F.lit(1) - F.col(event_col)).alias("c"),
    )
    # at-risk count = observations with duration >= t, i.e. the
    # REVERSE cumulative (d+c) — no eager total, no one-row join
    w_rev = Window.orderBy(F.col("duration").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = by_t.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_rev)
    )
    factor = F.when(
        F.col("d") >= F.col("n_risk"), F.lit(1.0)
    ).otherwise(1.0 - F.col("d").cast("double") / F.col("n_risk"))
    curve = (
        curve.withColumn(
            "__zero",
            F.max((F.col("d") >= F.col("n_risk")).cast("int")).over(w_cum),
        )
        .withColumn("__lnsum", F.sum(F.log(factor)).over(w_cum))
        .withColumn(
            "survival",
            F.when(F.col("__zero") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("__lnsum"))
            ),
        )
    )
    return curve.filter(F.col("d") > 0).select(
        "duration",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "n_risk",
        "survival",
    )


def msprt_two_sample(
    daily: DataFrame, tau2: float = 1.0
) -> DataFrame:
    """Mixture Sequential Probability Ratio Test — the always-valid
    p-value behind "peeking-safe" A/B dashboards (Johari, Koomen,
    Pekelis & Walsh, KDD'17; the reference's experiments layer
    reports fixed-horizon DiD only, ref insights_engine/experiments/
    did.py — this is its sequential upgrade).

    Input: one row per date with per-arm daily sums
    ``(date, nx, sx, sxx, ny, sy, syy)`` (counts, value sums, squared
    sums for treatment x / control y). Everything downstream runs on
    the DAILY-grain frame: cumulative windows give running means and
    a pooled variance; the mixture (τ² normal prior) likelihood
    ratio has the closed form
    logΛ_t = ½·ln(V/(V+τ²)) + θ̂²τ² / (2V(V+τ²)),  V = s²(1/n+1/m),
    and the always-valid p-value is the running minimum of 1/Λ
    (computed in log space so early huge Λ cannot overflow).
    The expression trees below are mirrored verbatim by the DuckDB
    oracle, so the whole sequential trajectory is differentially
    certified.
    """
    w = (
        Window.orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "date",
        F.sum("nx").over(w).cast("long").alias("cnx"),
        F.sum("sx").over(w).alias("csx"),
        F.sum("sxx").over(w).alias("csxx"),
        F.sum("ny").over(w).cast("long").alias("cny"),
        F.sum("sy").over(w).alias("csy"),
        F.sum("syy").over(w).alias("csyy"),
    ).where((F.col("cnx") > 1) & (F.col("cny") > 1))
    m = (
        cum.withColumn("mx", F.expr("csx / cnx"))
        .withColumn("my", F.expr("csy / cny"))
        .withColumn("theta", F.expr("mx - my"))
        .withColumn(
            "s2",
            F.expr(
                "(csxx - cnx * mx * mx + csyy - cny * my * my)"
                " / cast(cnx + cny - 2 as double)"
            ),
        )
        .withColumn("vv", F.expr("s2 * (1.0 / cnx + 1.0 / cny)"))
        .where(F.col("vv") > 0)
        .withColumn(
            "loglam",
            F.expr(
                f"0.5 * ln(vv / (vv + {tau2})) + theta * theta * {tau2}"
                f" / (2.0 * vv * (vv + {tau2}))"
            ),
        )
    )
    return m.withColumn(
        "p_always_valid",
        F.exp(-F.max(F.greatest(F.col("loglam"), F.lit(0.0))).over(w)),
    ).select(
        "date",
        F.col("cnx").alias("n_treat"),
        F.col("cny").alias("n_ctrl"),
        "theta",
        F.col("loglam").alias("log_lambda"),
        "p_always_valid",
    )


def cox_ph_newton(
    obs: DataFrame, steps: int = 2
) -> DataFrame:
    """Cox proportional hazards (one covariate, Breslow ties) fit by
    ``steps`` Newton–Raphson iterations on the partial likelihood —
    distributed with NO per-subject risk-set joins: the risk-set sums
    S₀=Σe^{βx}, S₁=Σxe^{βx}, S₂=Σx²e^{βx} over {j: t_j ≥ t} are
    suffix-cumulative windows (ORDER BY t DESC) over the per-duration
    aggregated frame, which is bounded by the DURATION DOMAIN
    (calendar days), never by subject count — the same frame shape as
    kaplan_meier. Each Newton step is one scan + one duration-frame
    window pass with β riding along as a group key (the logistic-GD
    treatment), so a fixed step count unrolls into SQL and the whole
    optimizer trajectory is oracle-certifiable.

    ``obs`` columns: t (duration), ev (1 event / 0 censored),
    x (covariate). Returns one row: n_events, beta, hazard_ratio,
    score_u (≈0 at convergence), se (1/√I)."""
    w = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Materialize the observation frame ONCE: every Newton pass scans
    # it, and without this the upstream span-join recomputes per step
    # (same treatment as pagerank's edge checkpoint) — measured
    # 3.3 s → ~1.5 s at sf0.1.
    obs = obs.localCheckpoint()

    def risk_frame(beta_df: DataFrame) -> DataFrame:
        j = obs.crossJoin(F.broadcast(beta_df))
        per_t = j.groupBy("b", "t").agg(
            F.sum("ev").alias("d"),
            F.sum(F.col("ev") * F.col("x")).alias("sx"),
            F.sum(F.exp(F.col("b") * F.col("x"))).alias("e0"),
            F.sum(F.col("x") * F.exp(F.col("b") * F.col("x"))).alias("e1"),
            F.sum(
                F.col("x") * F.col("x") * F.exp(F.col("b") * F.col("x"))
            ).alias("e2"),
        )
        return (
            per_t.withColumn("s0", F.sum("e0").over(w))
            .withColumn("s1v", F.sum("e1").over(w))
            .withColumn("s2v", F.sum("e2").over(w))
            .where(F.col("d") > 0)
        )

    beta = obs.sparkSession.range(1).select(F.lit(0.0).alias("b"))
    u_term = F.col("sx") - F.col("d") * (F.col("s1v") / F.col("s0"))
    i_term = F.col("d") * (
        F.col("s2v") / F.col("s0")
        - (F.col("s1v") / F.col("s0")) * (F.col("s1v") / F.col("s0"))
    )
    # try_divide (r11 ANSI audit): a CONSTANT covariate zeroes the
    # information I (Cauchy–Schwarz equality), so the Newton step u/I
    # and se = 1/√I both raised under ANSI mode — β is simply not
    # identifiable there (lifelines raises a warning and returns nan).
    for _ in range(steps):
        r = risk_frame(beta)
        beta = r.groupBy("b").agg(
            F.sum(u_term).alias("u"), F.sum(i_term).alias("i")
        ).select(
            (F.col("b") + F.try_divide(F.col("u"), F.col("i"))).alias("b")
        )
    final = risk_frame(beta)
    return final.groupBy("b").agg(
        F.sum("d").cast("long").alias("n_events"),
        F.sum(u_term).alias("u"),
        F.sum(i_term).alias("i"),
    ).select(
        "n_events",
        F.col("b").alias("beta"),
        F.exp("b").alias("hazard_ratio"),
        F.col("u").alias("score_u"),
        F.try_divide(F.lit(1.0), F.sqrt("i")).alias("se"),
    )


def auc_rank_sum(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """Exact ROC-AUC via the Mann–Whitney rank-sum identity with tie
    midranks: ONE per-distinct-score aggregate (map-side combinable),
    a cumulative window over the distinct-score frame, two one-row
    stat frames. No global sort of raw rows; distinct scores bound
    the window (quantize continuous scores to keep that bound at
    100 TB). Returns one row (n1, n0, auc, gini), unrounded."""
    per_v = df.select(score.alias("v"), label.cast("int").alias("y")).groupBy(
        "v"
    ).agg(
        F.sum("y").cast("long").alias("np"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_v.withColumn(
        "before_n", F.sum("n").over(w).cast("long") - F.col("n")
    )
    spr = ranked.agg(
        F.sum(
            F.col("np") * (F.col("before_n") + (F.col("n") + 1) / 2.0)
        ).alias("pos_rank_sum")
    )
    tot = per_v.agg(
        F.sum("np").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("np")).cast("long").alias("n0"),
    )
    j = spr.crossJoin(F.broadcast(tot))
    # try_divide (r11 ANSI audit): a single-class input (n1 or n0 = 0)
    # leaves AUC undefined — sklearn raises, we return NULL; ANSI mode
    # used to abort the job.
    auc = F.try_divide(
        F.col("pos_rank_sum") - F.col("n1") * (F.col("n1") + 1) / 2.0,
        F.col("n1") * 1.0 * F.col("n0"),
    )
    return j.select(
        "n1", "n0", auc.alias("auc"), (2.0 * auc - 1.0).alias("gini")
    )


def logrank_two_groups(obs: DataFrame) -> DataFrame:
    """Log-rank (Mantel–Cox) test from an ``(g, ev, t)`` observation
    frame: per-duration event/at-risk counts, suffix-cumulative risk
    windows (the KM/Cox frame shape — duration-domain bounded), then
    observed-vs-expected group-1 events with the hypergeometric
    variance summed into the 1-df χ². Returns one row
    (obs_events_g1, exp_events_g1, logrank_chi2), unrounded."""
    per_t = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.col("g") * F.col("ev")).cast("long").alias("d1"),
        F.count(F.lit(1)).alias("all_n"),
        F.sum("g").cast("long").alias("all_n1"),
    )
    w = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = (
        per_t.withColumn("n", F.sum("all_n").over(w).cast("long"))
        .withColumn("n1", F.sum("all_n1").over(w).cast("long"))
        .where(F.col("d") > 0)
    )
    p1 = F.col("n1") / F.col("n").cast("double")
    e1 = F.col("d") * p1
    v = F.when(
        F.col("n") > 1,
        F.col("d")
        * p1
        * (1.0 - p1)
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1).cast("double"),
    ).otherwise(0.0)
    terms = risk.select(F.col("d1"), e1.alias("e1"), v.alias("v"))
    # try_divide (r11 ANSI audit): every event time having n ≤ 1 at
    # risk zeroes Σv — the test is degenerate, not a job abort.
    chi = F.try_divide(
        (F.sum("d1") - F.sum("e1")) * (F.sum("d1") - F.sum("e1")),
        F.sum("v"),
    )
    return terms.agg(
        F.sum("d1").cast("long").alias("obs_events_g1"),
        F.sum("e1").alias("exp_events_g1"),
        chi.alias("logrank_chi2"),
    )


def isotonic_fit_ordered(
    df: DataFrame, order_col: str, y_col: str, w_col: str
) -> DataFrame:
    """Weighted L2 isotonic regression (pool-adjacent-violators fit)
    over an ORDERED, BOUNDED frame — e.g. a daily-grain calibration
    series, never raw events. Uses the minimax characterization
    ŷ(k) = max_{i≤k} min_{j≥k} Ā(i,j) with Ā the weighted mean of
    y over positions i..j (Robertson, Wright & Dykstra 1988, "Order
    Restricted Statistical Inference", §1.2 — equivalent to PAV but
    expressible as two windowed passes over the O(D²) position-pair
    frame instead of an inherently sequential pool merge).

    Scale shape: the quadratic pair frame is quadratic in the GROUP
    count D (days), not rows — the aggregation producing the daily
    frame is what scales; D² stays thousands when D is a quarter of
    daily grain. Returns the input columns plus ``y_fit``.
    """
    w = F.col(w_col).cast("double")
    y = F.col(y_col).cast("double")
    idx = df.select(
        F.col(order_col).alias("_ord"),
        w.alias("_w"),
        y.alias("_y"),
    ).withColumn(
        "_k",
        F.row_number().over(Window.orderBy("_ord")),
    )
    cum = idx.select(
        "*",
        F.sum(F.col("_w") * F.col("_y"))
        .over(Window.orderBy("_k"))
        .alias("_p"),
        F.sum("_w").over(Window.orderBy("_k")).alias("_cw"),
    )
    i = cum.select(
        F.col("_k").alias("ik"),
        (F.col("_p") - F.col("_w") * F.col("_y")).alias("p_before"),
        (F.col("_cw") - F.col("_w")).alias("w_before"),
    )
    j = cum.select(
        F.col("_k").alias("jk"), F.col("_p").alias("p_j"),
        F.col("_cw").alias("w_j"),
    )
    # try_divide (r11 ANSI audit): an i..j span of all-zero weights
    # has no weighted mean — NULL drops it from the minimax (min/max
    # ignore NULL), i.e. zero-weight spans impose no constraint;
    # ANSI mode used to abort the whole fit.
    pairs = i.join(j, F.col("jk") >= F.col("ik")).select(
        "ik",
        "jk",
        F.try_divide(
            F.col("p_j") - F.col("p_before"),
            F.col("w_j") - F.col("w_before"),
        ).alias("a"),
    )
    # min over j' >= jk for fixed ik: suffix running-min on the j axis
    bmin = pairs.select(
        "ik",
        "jk",
        F.min("a")
        .over(
            Window.partitionBy("ik")
            .orderBy(F.desc("jk"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("bmin"),
    )
    fit = bmin.groupBy("jk").agg(F.max("bmin").alias("y_fit"))
    return (
        idx.join(fit, idx["_k"] == fit["jk"])
        .select(
            F.col("_ord").alias(order_col),
            F.col("_w").alias(w_col),
            F.col("_y").alias(y_col),
            "y_fit",
        )
    )


def huber_irls_fit(
    d: DataFrame,
    x: str = "x",
    y: str = "y",
    iters: int = 3,
) -> DataFrame:
    """Huber M-estimator simple regression by IRLS: OLS warm start,
    robust scale delta = 1.345·1.4826·median|r₀| (the textbook
    95%-efficiency tuning over the MAD of warm-start residuals),
    then ``iters`` weighted-least-squares steps with Huber weights
    w = min(1, delta/|r|). Returns the ONE-ROW (a, b, delta) frame —
    every step is a single map-side-combinable aggregate with the
    parameters riding along broadcast (the logistic-GD shape), so
    the cost is ``iters + 2`` scans of ``d`` and nothing else.
    Differentially certified end-to-end by
    suite.stats_queries.huber_irls_audit's unrolled-CTE oracle."""
    xc, yc = F.col(x), F.col(y)
    ols = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xc).alias("sx"), F.sum(yc).alias("sy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum(xc * yc).alias("sxy"),
    )
    # try_divide (r11 ANSI audit): constant x zeroes n·var(x)
    b0 = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
    )
    fit = ols.select(
        (F.col("sy") / F.col("n") - b0 * F.col("sx") / F.col("n")).alias("a"),
        b0.alias("b"),
    )
    r = yc - F.col("a") - F.col("b") * xc
    scale = d.crossJoin(F.broadcast(fit)).agg(
        (
            1.345 * 1.4826 * F.expr(f"median(abs({y} - a - b * {x}))")
        ).alias("delta")
    )
    params = fit.crossJoin(F.broadcast(scale))
    for _ in range(iters):
        w = F.when(F.abs(r) <= F.col("delta"), 1.0).otherwise(
            F.col("delta") / F.abs(r)
        )
        sums = (
            d.crossJoin(F.broadcast(params))
            .groupBy("delta")
            .agg(
                F.sum(w).alias("sw"),
                F.sum(w * xc).alias("swx"),
                F.sum(w * yc).alias("swy"),
                F.sum(w * xc * xc).alias("swxx"),
                F.sum(w * xc * yc).alias("swxy"),
            )
        )
        bn = F.try_divide(
            F.col("swxy") - F.col("swx") * F.col("swy") / F.col("sw"),
            F.col("swxx") - F.col("swx") * F.col("swx") / F.col("sw"),
        )
        params = sums.select(
            ((F.col("swy") - bn * F.col("swx")) / F.col("sw")).alias("a"),
            bn.alias("b"),
            "delta",
        )
    return params


def poisson_glm_fit(
    d: DataFrame,
    x: str = "x",
    y: str = "y",
    iters: int = 3,
) -> DataFrame:
    """Poisson GLM (log link) by Newton/IRLS from the
    saturated-intercept start b0 = ln(avg y): gradient
    Σ(y−μ)·(1, x), Hessian Σμ·(1,x)(1,x)ᵀ inverted in closed 2×2
    form. Returns the ONE-ROW (b0, b1) frame; each step is one
    broadcast-parameter aggregate over ``d`` (cox_ph_newton's
    shape for count data). Differentially certified by
    suite.stats_queries.poisson_glm_irls_audit."""
    xc, yc = F.col(x), F.col(y)
    beta = d.agg(F.log(F.avg(yc)).alias("b0")).select(
        "b0", F.lit(0.0).alias("b1")
    )
    for _ in range(iters):
        mu = F.exp(F.col("b0") + F.col("b1") * xc)
        sums = (
            d.crossJoin(F.broadcast(beta))
            .groupBy("b0", "b1")
            .agg(
                F.sum(yc - mu).alias("g0"),
                F.sum(xc * (yc - mu)).alias("g1"),
                F.sum(mu).alias("h00"),
                F.sum(xc * mu).alias("h01"),
                F.sum(xc * xc * mu).alias("h11"),
            )
        )
        # try_divide (r11 ANSI audit): constant x makes the Hessian
        # singular (det = 0, Cauchy–Schwarz equality) — the slope is
        # unidentifiable; ANSI mode used to abort the job.
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        beta = sums.select(
            (
                F.col("b0")
                + F.try_divide(
                    F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1"),
                    det,
                )
            ).alias("b0"),
            (
                F.col("b1")
                + F.try_divide(
                    F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"),
                    det,
                )
            ).alias("b1"),
        )
    return beta
