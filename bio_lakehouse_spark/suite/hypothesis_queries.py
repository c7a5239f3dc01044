"""Hypothesis-test / robust-stats / time-series diagnostics queries.

Extends SURVEY.md §2.9's closed-form statistics family (ST1-ST7) with
the standard test-statistic toolkit the reference reaches to scipy
for: Welch's t, χ² independence, two-sample Kolmogorov–Smirnov, MAD
robust anomalies, the autocorrelation function, CUSUM changepoint
detection, Theil–Sen robust slopes, and Benjamini–Hochberg FDR over a
discovery grid (the multiple-comparison upgrade of ST4's Bonferroni,
ref discovery/scanner.py:138-277). Every one is a distributed
aggregate/window closed form — no scipy, no driver math — and every
one is DuckDB-oracle-gated including the p-value arithmetic (the
Zelen–Severo polynomial is pure exp+poly, reproducible bit-for-bit on
any engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.skew import spread
from bio_lakehouse_spark.operators.stats import (
    acf,
    chi_square_independence,
    cusum_changepoint,
    ks_two_sample,
    mad_anomalies,
    msprt_two_sample,
    normal_sf_approx,
    safe_corr,
    theil_sen,
    welch_t,
)
from bio_lakehouse_spark.suite.registry import load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

_DAILY_CTE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, SUM(value) AS v
  FROM events GROUP BY 1
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum("value").alias("v")
    )


@register(
    "welch_ttest_groups",
    survey=("ST1", "ST10"),
    oracle="""
WITH g AS (
  SELECT event_type,
         AVG(value) AS m, VAR_SAMP(value) AS v, COUNT(value) AS n
  FROM events WHERE event_type IN ('click', 'error')
  GROUP BY event_type
), w AS (
  SELECT
    (SELECT n FROM g WHERE event_type = 'click') AS n1,
    (SELECT n FROM g WHERE event_type = 'error') AS n2,
    (SELECT m FROM g WHERE event_type = 'click') AS m1,
    (SELECT m FROM g WHERE event_type = 'error') AS m2,
    (SELECT v FROM g WHERE event_type = 'click') AS v1,
    (SELECT v FROM g WHERE event_type = 'error') AS v2
)
SELECT n1, n2, ROUND(m1, 6) AS mean1, ROUND(m2, 6) AS mean2,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
       ROUND(POWER(v1 / n1 + v2 / n2, 2) /
             (POWER(v1 / n1, 2) / (n1 - 1) + POWER(v2 / n2, 2) / (n2 - 1)),
             6) AS welch_df
FROM w
""",
)
def welch_ttest_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between click and error values —
    one pivot aggregate, closed-form t and Welch–Satterthwaite df
    (the scipy.ttest_ind(equal_var=False) twin of the reference's
    group comparisons)."""
    ev = load(spark, sf_dir, "events")
    out = welch_t(ev, "value", "event_type", "click", "error")
    return out.select(
        "n1",
        "n2",
        R6(F.col("mean1")).alias("mean1"),
        R6(F.col("mean2")).alias("mean2"),
        R6(F.col("t_stat")).alias("t_stat"),
        R6(F.col("welch_df")).alias("welch_df"),
    )


@register(
    "chi_square_independence",
    survey=("ST3", "A6"),
    oracle="""
WITH obs AS (
  SELECT event_type AS r,
         CASE WHEN value < 50 THEN 'lo' WHEN value < 150 THEN 'mid'
              WHEN value < 300 THEN 'hi' ELSE 'top' END AS c,
         COUNT(*) AS o
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), cells AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY r) * SUM(o) OVER (PARTITION BY c)
           / SUM(o) OVER () AS e,
         r, c
  FROM obs
)
SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
       (COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS dof,
       CAST(SUM(o) AS BIGINT) AS n
FROM cells
""",
)
def chi_square_ind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test: event_type × fixed value band.
    One groupBy over the facts; margins are windows over the tiny
    R×C contingency frame (operators/stats.chi_square_independence).
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    band = (
        F.when(F.col("value") < 50, "lo")
        .when(F.col("value") < 150, "mid")
        .when(F.col("value") < 300, "hi")
        .otherwise("top")
    )
    out = chi_square_independence(
        ev.withColumn("band", band), "event_type", "band"
    )
    return out.select(
        R6(F.col("chi2")).alias("chi2"),
        F.col("dof").cast("long").alias("dof"),
        "n",
    )


@register(
    "ks_two_sample",
    survey=("ST3", "ST6"),
    oracle="""
WITH per_v AS (
  SELECT value AS v,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
  FROM events
  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
  GROUP BY value
), ecdf AS (
  SELECT SUM(c1) OVER (ORDER BY v) * 1.0 / SUM(c1) OVER () AS f1,
         SUM(c2) OVER (ORDER BY v) * 1.0 / SUM(c2) OVER () AS f2,
         SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
  FROM per_v
)
SELECT ROUND(MAX(ABS(f1 - f2)), 6) AS ks_d,
       CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2
FROM ecdf
""",
)
def ks_two_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS D between click and error value distributions,
    exact under ties: per-distinct-value counts (map-side combine)
    then ONE cumulative window over the distinct-value frame — the
    window is |distinct|, not |rows| (operators/stats.ks_two_sample).
    """
    ev = load(spark, sf_dir, "events")
    out = ks_two_sample(ev, "value", "event_type", "click", "error")
    return out.select(R6(F.col("ks_d")).alias("ks_d"), "n1", "n2")


@register(
    "mad_robust_anomaly",
    survey=("ST6", "A10"),
    oracle="""
WITH med AS (
  SELECT event_type, QUANTILE_CONT(value, 0.5) AS med, COUNT(value) AS n
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), madt AS (
  SELECT e.event_type, QUANTILE_CONT(ABS(e.value - m.med), 0.5) AS mad,
         MAX(m.med) AS med, MAX(m.n) AS n
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
  GROUP BY e.event_type
)
SELECT e.event_type,
       ROUND(MAX(t.med), 6) AS median,
       ROUND(MAX(t.mad), 6) AS mad,
       MAX(t.n) AS n,
       CAST(SUM(CASE WHEN ABS(e.value - t.med) > 3.0 * 1.4826 * t.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM events e JOIN madt t USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def mad_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD robust z-score anomaly counts per event type (|x−med| >
    3·1.4826·MAD, Leys et al. 2013): two exact-percentile aggregates
    with tiny stats broadcast back — the robust twin of ST6 that the
    anomalies themselves can't skew. approx_percentile is the
    drop-in at 100 TB (operators/stats.mad_anomalies)."""
    ev = load(spark, sf_dir, "events")
    out = mad_anomalies(ev, "value", by=("event_type",))
    return out.select(
        "event_type",
        R6(F.col("median")).alias("median"),
        R6(F.col("mad")).alias("mad"),
        "n",
        "n_anomalies",
    ).orderBy("event_type")


@register(
    "acf_daily_lags",
    survey=("ST7", "W4"),
    oracle=_DAILY_CTE
    + """, dev AS (
  SELECT date AS t, v - (SELECT AVG(v) FROM daily) AS d FROM daily
), lagged AS (
  SELECT d,
         LAG(d, 1) OVER (ORDER BY t) AS d1, LAG(d, 2) OVER (ORDER BY t) AS d2,
         LAG(d, 3) OVER (ORDER BY t) AS d3, LAG(d, 4) OVER (ORDER BY t) AS d4,
         LAG(d, 5) OVER (ORDER BY t) AS d5, LAG(d, 6) OVER (ORDER BY t) AS d6,
         LAG(d, 7) OVER (ORDER BY t) AS d7
  FROM dev
), s AS (
  SELECT SUM(d * d) AS ss,
         SUM(d * d1) AS s1, SUM(d * d2) AS s2, SUM(d * d3) AS s3,
         SUM(d * d4) AS s4, SUM(d * d5) AS s5, SUM(d * d6) AS s6,
         SUM(d * d7) AS s7
  FROM lagged
)
SELECT lag, ROUND(acf, 6) AS acf FROM (
  SELECT 1 AS lag, s1 / ss AS acf FROM s UNION ALL
  SELECT 2, s2 / ss FROM s UNION ALL SELECT 3, s3 / ss FROM s UNION ALL
  SELECT 4, s4 / ss FROM s UNION ALL SELECT 5, s5 / ss FROM s UNION ALL
  SELECT 6, s6 / ss FROM s UNION ALL SELECT 7, s7 / ss FROM s
) ORDER BY lag
""",
)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily total-value series at lags 1–7, standard
    shared-denominator estimator (statsmodels.acf default): one
    broadcast mean, ONE window pass for all lags, one aggregate
    unpivoted with stack (operators/stats.acf)."""
    out = acf(_daily(spark, sf_dir), "date", "v", max_lag=7)
    return out.select("lag", R6(F.col("acf")).alias("acf")).orderBy("lag")


@register(
    "cusum_changepoint",
    survey=("ST6", "ST7"),
    oracle=_DAILY_CTE
    + """, s AS (
  SELECT date AS cp,
         ABS(SUM(v - (SELECT AVG(v) FROM daily))
             OVER (ORDER BY date)) AS abs_s
  FROM daily
)
SELECT cp, ROUND(abs_s, 6) AS max_abs_s,
       ROUND(abs_s / ((SELECT STDDEV_SAMP(v) FROM daily)
                      * SQRT((SELECT COUNT(*) FROM daily))), 6) AS stat,
       (SELECT COUNT(*) FROM daily) AS n
FROM s ORDER BY abs_s DESC, cp ASC LIMIT 1
""",
)
def cusum_changepoint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint of the daily series: argmax |S_t|
    with earliest-date tie-break, normalized pivot max|S|/(σ̂√n)
    (Page 1954). Broadcast stats + one cumulative window +
    TakeOrderedAndProject (operators/stats.cusum_changepoint)."""
    out = cusum_changepoint(_daily(spark, sf_dir), "date", "v")
    return out.select(
        "cp",
        R6(F.col("max_abs_s")).alias("max_abs_s"),
        R6(F.col("stat")).alias("stat"),
        "n",
    )


@register(
    "theil_sen_slope",
    survey=("ST7", "J7"),
    oracle="""
WITH ud AS (
  SELECT user_id,
         DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         ROUND(AVG(value), 6) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS sl
  FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.x < b.x
), ranked AS (
  SELECT user_id, sl,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sl) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM pairs
)
SELECT user_id, FLOOR(sl * 1000000.0 + 0.5) / 1000000.0 AS sen_slope,
       n AS n_pairs
FROM ranked WHERE rn = CAST(CEIL(n / 2.0) AS INTEGER)
ORDER BY user_id
""",
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil–Sen robust slope of daily mean value: median of
    pairwise slopes. The O(n²) expansion is INSIDE each user's
    (bounded, max_points-guarded) series — one hash partition by
    user, no global blow-up (operators/stats.theil_sen)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # round the daily means BEFORE the pairwise slopes: avg() is
    # summation-order-dependent at the last ulp, and a 1-ulp input
    # difference flipped one slope's 6-decimal rounding at sf0.1 —
    # with both engines dividing identical rounded doubles the whole
    # pipeline is bit-exact (same pattern as ema_exact_series).
    ud = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias(
            "x"
        ),
    ).agg(F.round(F.avg("value"), 6).alias("y"))
    out = theil_sen(ud, "user_id", "x", "y")
    # floor-based half-up rounding, NOT ROUND(): a slope landed on an
    # exact .5 at the 6th decimal (-2.0490625 at sf0.1), where Spark
    # rounds half-away and DuckDB half-to-even — floor(x·1e6 + 0.5)
    # is the same IEEE arithmetic in both engines.
    r6hu = F.floor(F.col("sen_slope") * 1000000.0 + 0.5) / 1000000.0
    return out.select(
        "user_id", r6hu.alias("sen_slope"), "n_pairs"
    ).orderBy("user_id")


# --- Benjamini–Hochberg FDR over a lagged-correlation discovery grid.
_BH_PAIRS = [("click", "purchase"), ("view", "purchase"), ("signup", "click")]
_BH_LAGS = [0, 1, 2, 3]
_BH_Q = 0.10

# Zelen–Severo 26.2.17 upper-tail normal approximation, as SQL text —
# pure exp+polynomial, so DuckDB reproduces Spark bit-comparably.
_SF = (
    "(EXP(-({z}) * ({z}) / 2.0) / 2.5066282746310002"
    " * ((1.0 / (1.0 + 0.2316419 * ({z})))"
    " * (0.319381530 + (1.0 / (1.0 + 0.2316419 * ({z})))"
    " * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * ({z})))"
    " * (1.781477937 + (1.0 / (1.0 + 0.2316419 * ({z})))"
    " * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * ({z})))"
    " * 1.330274429))))))"
).format


def _bh_oracle() -> str:
    lead_cols = ",\n         ".join(
        f"LEAD({y}, {k}) OVER (ORDER BY date) AS y_{x}_{y}_{k}"
        for x, y in _BH_PAIRS
        for k in _BH_LAGS
    )
    branches = "\n  UNION ALL\n".join(
        f"  SELECT '{x}' AS xs, '{y}' AS ys, {k} AS lag,"
        f" REGR_COUNT(y_{x}_{y}_{k}, {x}) AS n,"
        f" CORR({x}, y_{x}_{y}_{k}) AS r FROM lagged"
        for x, y in _BH_PAIRS
        for k in _BH_LAGS
    )
    m = len(_BH_PAIRS) * len(_BH_LAGS)
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS click,
         SUM(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS view,
         SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS purchase,
         SUM(CASE WHEN event_type = 'signup' THEN value ELSE 0 END) AS signup
  FROM events GROUP BY 1
), lagged AS (
  SELECT date, click, view, purchase, signup,
         {lead_cols}
  FROM daily
), grid AS (
{branches}
), scored AS (
  SELECT xs, ys, lag, n, r,
         2.0 * {_SF(z='ABS(r * SQRT((n - 2) / (1 - r * r)))')} AS p
  FROM grid
), ranked AS (
  SELECT xs, ys, lag, n, r, p,
         ROW_NUMBER() OVER (ORDER BY ROUND(p, 9), xs, ys, lag) AS rk
  FROM scored
), cut AS (
  SELECT MAX(CASE WHEN p <= {_BH_Q} * rk / {m} THEN rk ELSE 0 END) AS kmax
  FROM ranked
)
SELECT xs, ys, lag, n, ROUND(r, 6) AS r, ROUND(p, 6) AS p, rk,
       CASE WHEN rk <= (SELECT kmax FROM cut) THEN 1 ELSE 0 END AS significant
FROM ranked ORDER BY rk
"""


@register("bh_fdr_discovery", survey=("ST4",), oracle=_bh_oracle())
def bh_fdr_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a lagged-correlation
    discovery grid — the multiple-comparison upgrade of ST4's
    Bonferroni (ref discovery/scanner.py:138-277): 3 metric pairs ×
    lags 0–3, normal-approximation two-sided p from the t statistic
    (Zelen–Severo polynomial, engine-portable arithmetic), then the
    step-up procedure at q=0.10 as rank windows.

    ONE events scan → daily pivot → ONE window pass materializing
    every (pair, lag) lead column → ONE aggregate row fanned back
    out with stack. The BH step-up runs on the m-row grid."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, F.col("value")).otherwise(
                    0.0
                )
            ).alias(t)
            for t in ("click", "view", "purchase", "signup")
        ]
    )
    w = Window.orderBy("date")
    lagged = daily.select(
        "*",
        *[
            F.lead(y, k).over(w).alias(f"y_{x}_{y}_{k}")
            for x, y in _BH_PAIRS
            for k in _BH_LAGS
        ],
    )
    agg = lagged.agg(
        *[
            expr
            for x, y in _BH_PAIRS
            for k in _BH_LAGS
            for expr in (
                F.regr_count(F.col(f"y_{x}_{y}_{k}"), F.col(x)).alias(
                    f"n_{x}_{y}_{k}"
                ),
                # safe_corr (r12 ANSI audit): F.corr raises under
                # ANSI when one metric is a constant series — one
                # flat metric aborted the whole multi-pair scan.
                safe_corr(F.col(x), F.col(f"y_{x}_{y}_{k}")).alias(
                    f"r_{x}_{y}_{k}"
                ),
            )
        ]
    )
    m = len(_BH_PAIRS) * len(_BH_LAGS)
    rows = ", ".join(
        f"'{x}', '{y}', {k}, n_{x}_{y}_{k}, r_{x}_{y}_{k}"
        for x, y in _BH_PAIRS
        for k in _BH_LAGS
    )
    grid = agg.select(
        F.expr(f"stack({m}, {rows}) AS (xs, ys, lag, n, r)")
    ).select("xs", "ys", F.col("lag").cast("int").alias("lag"), "n", "r")
    # Clamped try_divide (r12 ANSI audit, same form as pearson_ols):
    # |r|=1 zeroes the denominator (ANSI crash), and fp overshoot
    # r²>1 would sqrt a negative → NaN; both map to NULL z → NULL p.
    z = F.abs(
        F.col("r")
        * F.sqrt(
            F.try_divide(
                F.col("n") - 2,
                F.greatest(1 - F.col("r") * F.col("r"), F.lit(0.0)),
            )
        )
    )
    scored = grid.withColumn("p", 2.0 * normal_sf_approx(z))
    # NULL p (undefined test) must NOT occupy rank 1 — Spark sorts
    # NULLs first by default, which would shift every real test's BH
    # rank by one; park undefined tests last instead.
    wrk = Window.orderBy(
        F.round("p", 9).asc_nulls_last(), "xs", "ys", "lag"
    )
    ranked = scored.withColumn("rk", F.row_number().over(wrk))
    wall = Window.partitionBy()
    kmax = F.max(
        F.when(
            F.col("p") <= F.lit(_BH_Q) * F.col("rk") / F.lit(m), F.col("rk")
        ).otherwise(0)
    ).over(wall)
    return (
        ranked.withColumn(
            "significant",
            F.when(F.col("rk") <= kmax, 1).otherwise(0),
        )
        .select(
            "xs",
            "ys",
            "lag",
            "n",
            R6(F.col("r")).alias("r"),
            R6(F.col("p")).alias("p"),
            "rk",
            "significant",
        )
        .orderBy("rk")
    )


# Poisson(1) inverse-CDF breakpoints (cumulative e^-1 Σ 1/k!).
_POIS_CUM = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563)
_BOOT_B = 100

_BOOT_U = (
    "(CAST(concat('0x', substr(md5(concat('boot:', CAST(event_id AS VARCHAR),"
    " ':', CAST(b AS VARCHAR))), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
)


@register(
    "bootstrap_ci_poisson",
    survey=("ST10", "A13"),
    oracle=f"""
WITH base AS (
  SELECT event_id, value FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
), rep AS (
  SELECT event_id, value, b FROM base, range(1, {_BOOT_B} + 1) AS t(b)
), weighted AS (
  SELECT b, value,
         CASE WHEN {_BOOT_U} < {_POIS_CUM[0]!r} THEN 0
              WHEN {_BOOT_U} < {_POIS_CUM[1]!r} THEN 1
              WHEN {_BOOT_U} < {_POIS_CUM[2]!r} THEN 2
              WHEN {_BOOT_U} < {_POIS_CUM[3]!r} THEN 3
              WHEN {_BOOT_U} < {_POIS_CUM[4]!r} THEN 4
              ELSE 5 END AS w
  FROM rep
), means AS (
  SELECT b, SUM(w * value) / SUM(w) AS m FROM weighted GROUP BY b
)
SELECT (SELECT ROUND(AVG(value), 6) FROM base) AS point_mean,
       ROUND(QUANTILE_CONT(m, 0.025), 6) AS ci_low,
       ROUND(QUANTILE_CONT(m, 0.975), 6) AS ci_high,
       COUNT(*) AS n_resamples
FROM means
""",
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean purchase value
    (Chamandy et al. 2012, 'Estimating Uncertainty for Massive Data
    Streams' — the bootstrap that distributes: each row draws its
    per-resample multiplicity w ~ Poisson(1) independently, so no
    resample ever needs the full dataset co-located).

    Weights are DETERMINISTIC — Poisson inverse-CDF applied to the
    md5-derived uniform already underpinning the sampling family —
    which is what lets DuckDB reproduce the exact CI (the driver
    hash-gates the interval itself, not just its shape). The B-fold
    row replication collapses map-side: the exchange carries
    B × partitions partial rows, never B × N.
    """
    from bio_lakehouse_spark.operators.sampling import hash_unit

    # Filter pushes to the scan (cheap, correct); the B-fold explode
    # + per-row md5 must NOT run in the fixture's single split.
    ev = spread(
        load(spark, sf_dir, "events").filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        ),
        "event_id",
    )
    rep = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    )
    u = hash_unit(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.col("b").cast("string"),
        ),
        salt="boot:",
    )
    w = (
        F.when(u < _POIS_CUM[0], 0)
        .when(u < _POIS_CUM[1], 1)
        .when(u < _POIS_CUM[2], 2)
        .when(u < _POIS_CUM[3], 3)
        .when(u < _POIS_CUM[4], 4)
        .otherwise(5)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        # try_divide (r12 ANSI audit): a replicate whose units ALL
        # draw Poisson weight 0 has an undefined resample mean — on a
        # small corpus that replicate occurs with probability ~e^-n,
        # and under ANSI the raw division aborts the whole bootstrap.
        # NULL means simply drop from the percentile.
        .agg(
            F.try_divide(
                F.sum(F.col("w") * F.col("value")), F.sum("w")
            ).alias("m")
        )
    )
    ci = means.agg(
        R6(F.percentile(F.col("m"), F.lit(0.025))).alias("ci_low"),
        R6(F.percentile(F.col("m"), F.lit(0.975))).alias("ci_high"),
        F.count(F.lit(1)).alias("n_resamples"),
    )
    point = ev.agg(R6(F.avg("value")).alias("point_mean"))
    return point.crossJoin(F.broadcast(ci)).select(
        "point_mean", "ci_low", "ci_high", "n_resamples"
    )


@register(
    "holt_linear_forecast",
    survey=("ST9", "ST7"),
    oracle="""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, ROUND(SUM(value), 6) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), s AS (
  SELECT user_id, x,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM daily
), rec AS (
  SELECT s1.user_id, 2 AS rn, s1.n, s1.x AS l, s2.x - s1.x AS b
  FROM s s1 JOIN s s2 ON s2.user_id = s1.user_id AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT r.user_id, r.rn + 1, r.n,
         0.5 * s.x + 0.5 * (r.l + r.b),
         0.25 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
  FROM rec r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
  WHERE r.rn < r.n
)
SELECT user_id, n AS n_obs, ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
       ROUND(l + 7.0 * b, 6) AS forecast
FROM rec WHERE rn = n ORDER BY user_id
""",
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per user
    (α=0.5, β=0.25 — exact binary literals, so both engines fold
    bit-identical doubles), 7-step-ahead forecast from the final
    (level, trend) state.

    The recurrence runs as a JVM-side ``F.aggregate`` fold over each
    user's sorted series array — sequential within a series,
    embarrassingly parallel across series, zero Python. The oracle
    unrolls the same recursion as a recursive CTE (the unrolled-Lloyd
    pattern): the driver hash-gates the full smoothing state, not a
    summary (operators/stats.holt_linear)."""
    from bio_lakehouse_spark.operators.stats import holt_linear

    ev = load(spark, sf_dir, "events")
    daily = ev.filter(F.col("value").isNotNull()).groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(R6(F.sum("value")).alias("x"))
    out = holt_linear(
        daily, "user_id", "d", "x", alpha=0.5, beta=0.25, horizon=7
    )
    return out.select(
        "user_id",
        "n_obs",
        R6(F.col("level")).alias("level"),
        R6(F.col("trend")).alias("trend"),
        R6(F.col("forecast")).alias("forecast"),
    ).orderBy("user_id")


_CAL_U = (
    "(CAST(concat('0x', substr(md5(concat('conf:', CAST(event_id AS VARCHAR))),"
    " 1, 15)) AS BIGINT) / 1152921504606846976.0)"
)


@register(
    "conformal_interval_daily",
    survey=("ST14", "A13"),
    oracle=f"""
WITH base AS (
  SELECT event_id, user_id, value,
         CASE WHEN {_CAL_U} < 0.5 THEN 'cal' ELSE 'test' END AS split
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), model AS (
  SELECT user_id, AVG(value) AS pred, COUNT(*) AS n_cal_u
  FROM base WHERE split = 'cal' GROUP BY user_id
), resid AS (
  SELECT QUANTILE_CONT(ABS(b.value - m.pred), 0.9) AS q_hat,
         COUNT(*) AS n_cal
  FROM base b JOIN model m USING (user_id) WHERE b.split = 'cal'
), cov AS (
  SELECT COUNT(*) AS n_test,
         SUM(CASE WHEN ABS(b.value - m.pred) <= r.q_hat
                  THEN 1 ELSE 0 END) AS n_covered
  FROM base b JOIN model m USING (user_id) CROSS JOIN resid r
  WHERE b.split = 'test'
)
SELECT r.n_cal, c.n_test, ROUND(r.q_hat, 6) AS q_hat,
       ROUND(c.n_covered * 1.0 / c.n_test, 6) AS coverage
FROM resid r CROSS JOIN cov c
""",
)
def conformal_interval_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk / Lei et al.): a
    deterministic md5-hash calibration split, a per-user mean model
    fit on calibration rows only, the 90th-percentile absolute
    residual as the conformal quantile q̂, and empirical coverage
    |y − ŷ| ≤ q̂ measured on the held-out half — the
    distribution-free uncertainty wrapper every forecasting pipeline
    should ship. All passes are aggregates + broadcast stat joins;
    the driver hash-gates q̂ and the coverage rate themselves.
    """
    from bio_lakehouse_spark.operators.sampling import hash_unit

    base = (
        load(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "value",
            F.when(
                hash_unit(F.col("event_id"), salt="conf:") < 0.5, "cal"
            )
            .otherwise("test")
            .alias("split"),
        )
    )
    model = (
        base.filter(F.col("split") == "cal")
        .groupBy("user_id")
        .agg(F.avg("value").alias("pred"))
    )
    joined = base.join(F.broadcast(model), "user_id")
    resid = (
        joined.filter(F.col("split") == "cal")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("pred")), F.lit(0.9)
            ).alias("q_hat"),
            F.count(F.lit(1)).alias("n_cal"),
        )
    )
    cov = (
        joined.filter(F.col("split") == "test")
        .crossJoin(F.broadcast(resid))
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            R6(F.first("q_hat")).alias("q_hat"),
            R6(
                F.sum(
                    F.when(
                        F.abs(F.col("value") - F.col("pred"))
                        <= F.col("q_hat"),
                        1,
                    ).otherwise(0)
                )
                / F.count(F.lit(1))
            ).alias("coverage"),
        )
    )
    return cov.select("n_cal", "n_test", "q_hat", "coverage")


@register(
    "winsorized_trimmed_stats",
    survey=("A10", "ST6"),
    oracle="""
WITH cuts AS (
  SELECT event_type,
         QUANTILE_CONT(value, 0.05) AS p05,
         QUANTILE_CONT(value, 0.95) AS p95
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       ROUND(AVG(e.value), 6) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(e.value, c.p05), c.p95)), 6)
         AS mean_winsorized,
       ROUND(AVG(CASE WHEN e.value BETWEEN c.p05 AND c.p95
                      THEN e.value END), 6) AS mean_trimmed,
       ROUND(MAX(c.p05), 6) AS p05, ROUND(MAX(c.p95), 6) AS p95
FROM events e JOIN cuts c USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def winsorized_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clamped to [p05, p95]) and 5%-trimmed means per
    event type alongside the raw mean — the robust location family
    completing MAD: one exact-percentile aggregate, cut points
    broadcast back, one more pass. approx_percentile swaps in at
    100 TB with the identical plan."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    clamp = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R6(F.avg("value")).alias("mean_raw"),
            R6(F.avg(clamp)).alias("mean_winsorized"),
            R6(
                F.avg(
                    F.when(
                        F.col("value").between(F.col("p05"), F.col("p95")),
                        F.col("value"),
                    )
                )
            ).alias("mean_trimmed"),
            R6(F.max("p05")).alias("p05"),
            R6(F.max("p95")).alias("p95"),
        )
        .orderBy("event_type")
    )


@register(
    "point_in_time_features",
    survey=("J7", "W8", "ST14"),
    oracle="""
WITH labels AS (
  SELECT event_id AS label_id, user_id, ts AS label_ts, value AS label
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 6)
           AS clicks_v,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), merged AS (
  SELECT user_id, day AS d, clicks_v, n_events,
         NULL AS label_id, NULL AS label_ts, NULL AS label
  FROM daily
  UNION ALL
  SELECT user_id, CAST(label_ts AS DATE) AS d, NULL, NULL,
         label_id, label_ts, label
  FROM labels
), carried AS (
  SELECT user_id, label_id, label_ts, label,
         LAST_VALUE(CASE WHEN label_id IS NULL THEN clicks_v END
                    IGNORE NULLS)
           OVER w AS f_clicks_v,
         LAST_VALUE(CASE WHEN label_id IS NULL THEN n_events END
                    IGNORE NULLS)
           OVER w AS f_n_events,
         LAST_VALUE(CASE WHEN label_id IS NULL THEN d END IGNORE NULLS)
           OVER w AS f_day
  FROM merged
  WINDOW w AS (PARTITION BY user_id
               ORDER BY d, CASE WHEN label_id IS NULL THEN 0 ELSE 1 END,
                        COALESCE(label_id, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT label_id, user_id, ROUND(label, 6) AS label,
       f_clicks_v, f_n_events,
       CAST(label_ts AS DATE) - f_day AS staleness_days
FROM carried WHERE label_id IS NOT NULL
ORDER BY label_id
""",
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join (the feature-store
    primitive): each purchase label gets the latest per-user daily
    feature row STRICTLY BEFORE the label's day — never same-day or
    future values, so no label leakage by construction. Zero-join
    union+window shape (the asof idiom): features and labels
    interleave in one per-user ordered stream; the 1-PRECEDING frame
    end plus the feature-first same-day sort order enforce
    strictness. Emits per-label feature staleness, the freshness
    metric a feature store monitors."""
    ev = load(spark, sf_dir, "events")
    labels = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts").alias("label_ts"),
        F.col("value").alias("label"),
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        R6(
            F.sum(
                F.when(
                    F.col("event_type") == "click", F.col("value")
                ).otherwise(0.0)
            )
        ).alias("clicks_v"),
        F.count(F.lit(1)).alias("n_events"),
    )
    feat_rows = daily.select(
        "user_id",
        F.col("day").alias("d"),
        "clicks_v",
        "n_events",
        F.lit(None).cast("long").alias("label_id"),
        F.lit(None).cast("timestamp").alias("label_ts"),
        F.lit(None).cast("double").alias("label"),
    )
    label_rows = labels.select(
        "user_id",
        F.to_date("label_ts").alias("d"),
        F.lit(None).cast("double").alias("clicks_v"),
        F.lit(None).cast("long").alias("n_events"),
        "label_id",
        "label_ts",
        "label",
    )
    merged = feat_rows.unionByName(label_rows)
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            "d",
            F.when(F.col("label_id").isNull(), 0).otherwise(1),
            F.coalesce("label_id", F.lit(-1)),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat_only = lambda c: F.when(F.col("label_id").isNull(), F.col(c))  # noqa: E731
    carried = merged.select(
        "user_id",
        "label_id",
        "label_ts",
        "label",
        F.last(feat_only("clicks_v"), ignorenulls=True).over(w).alias(
            "f_clicks_v"
        ),
        F.last(feat_only("n_events"), ignorenulls=True).over(w).alias(
            "f_n_events"
        ),
        F.last(feat_only("d"), ignorenulls=True).over(w).alias("f_day"),
    )
    return (
        carried.filter(F.col("label_id").isNotNull())
        .select(
            "label_id",
            "user_id",
            R6(F.col("label")).alias("label"),
            "f_clicks_v",
            "f_n_events",
            F.datediff(F.to_date("label_ts"), F.col("f_day")).alias(
                "staleness_days"
            ),
        )
        .orderBy("label_id")
    )


@register(
    "cuped_adjustment",
    survey=("ST10", "ST11"),
    oracle="""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN CAST(ts AS DATE) <
                       (SELECT MIN(CAST(ts AS DATE)) FROM events)
                       + INTERVAL 14 DAY
                  THEN value ELSE 0 END) AS x_pre,
         SUM(CASE WHEN CAST(ts AS DATE) >=
                       (SELECT MIN(CAST(ts AS DATE)) FROM events)
                       + INTERVAL 14 DAY
                  THEN value ELSE 0 END) AS y_post
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
), theta AS (
  SELECT COVAR_SAMP(x_pre, y_post) / VAR_SAMP(x_pre) AS th,
         AVG(x_pre) AS mx
  FROM per_user
)
SELECT COUNT(*) AS n_users,
       ROUND(t.th, 6) AS theta,
       ROUND(VAR_SAMP(p.y_post), 6) AS var_raw,
       ROUND(VAR_SAMP(p.y_post - t.th * (p.x_pre - t.mx)), 6) AS var_cuped,
       ROUND(1.0 - VAR_SAMP(p.y_post - t.th * (p.x_pre - t.mx))
                 / VAR_SAMP(p.y_post), 6) AS variance_reduction
FROM per_user p CROSS JOIN theta t
GROUP BY t.th, t.mx
""",
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13) — the standard
    experimentation-platform pre-period adjustment: per-user
    pre-period purchase total as the covariate, post-period total as
    the outcome, θ = cov(x,y)/var(x), adjusted metric
    y − θ(x − x̄). The hash-gated output includes the achieved
    variance_reduction = 1 − var(ŷ)/var(y), which is exactly the
    extra experiment power CUPED buys (equals ρ² in the large-sample
    limit). Two aggregates over the per-user frame; θ broadcast back.
    """
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    min_day = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    per_user = (
        ev.crossJoin(F.broadcast(min_day))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.to_date("ts") < F.date_add(F.col("d0"), 14),
                    F.col("value"),
                ).otherwise(0.0)
            ).alias("x_pre"),
            F.sum(
                F.when(
                    F.to_date("ts") >= F.date_add(F.col("d0"), 14),
                    F.col("value"),
                ).otherwise(0.0)
            ).alias("y_post"),
        )
    )
    # try_divide twice (r12 ANSI audit): a constant pre-period
    # (var(x_pre)=0 — e.g. no user has events in the first fortnight)
    # makes θ undefined, and a constant post-period makes the
    # variance-reduction ratio undefined; scipy/CUPED literature
    # treat both as "no adjustment possible" → NULL, not a job abort.
    theta = per_user.agg(
        F.try_divide(
            F.covar_samp("x_pre", "y_post"), F.var_samp("x_pre")
        ).alias("th"),
        F.avg("x_pre").alias("mx"),
    )
    j = per_user.crossJoin(F.broadcast(theta))
    adj = F.col("y_post") - F.col("th") * (F.col("x_pre") - F.col("mx"))
    return j.groupBy("th", "mx").agg(
        F.count(F.lit(1)).alias("n_users"),
        R6(F.first("th")).alias("theta"),
        R6(F.var_samp("y_post")).alias("var_raw"),
        R6(F.var_samp(adj)).alias("var_cuped"),
        R6(
            1.0 - F.try_divide(F.var_samp(adj), F.var_samp("y_post"))
        ).alias("variance_reduction"),
    ).drop("th", "mx")


@register(
    "msprt_sequential_daily",
    survey=("ST11", "ST10"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nx,
         SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS sx,
         SUM(CASE WHEN event_type = 'click' THEN value * value ELSE 0 END)
           AS sxx,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ny,
         SUM(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS sy,
         SUM(CASE WHEN event_type = 'view' THEN value * value ELSE 0 END)
           AS syy
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), cum AS (
  SELECT date,
         CAST(SUM(nx) OVER w AS BIGINT) AS cnx,
         SUM(sx) OVER w AS csx,
         SUM(sxx) OVER w AS csxx,
         CAST(SUM(ny) OVER w AS BIGINT) AS cny,
         SUM(sy) OVER w AS csy,
         SUM(syy) OVER w AS csyy
  FROM daily
  WINDOW w AS (ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m1 AS (
  SELECT date, cnx, cny, csxx, csyy,
         csx / cnx AS mx, csy / cny AS my
  FROM cum WHERE cnx > 1 AND cny > 1
), m2 AS (
  SELECT date, cnx, cny, mx - my AS theta,
         (csxx - cnx * mx * mx + csyy - cny * my * my)
           / cast(cnx + cny - 2 as double) AS s2
  FROM m1
), m3 AS (
  SELECT date, cnx, cny, theta, s2 * (1.0 / cnx + 1.0 / cny) AS vv
  FROM m2
), m4 AS (
  SELECT date, cnx, cny, theta,
         0.5 * ln(vv / (vv + 1.0)) + theta * theta * 1.0
           / (2.0 * vv * (vv + 1.0)) AS loglam
  FROM m3 WHERE vv > 0
)
SELECT date, cnx AS n_treat, cny AS n_ctrl,
       ROUND(theta, 6) AS theta,
       ROUND(loglam, 6) AS log_lambda,
       ROUND(EXP(-MAX(GREATEST(loglam, 0.0)) OVER
                 (ORDER BY date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
         AS p_always_valid
FROM m4
""",
)
def msprt_sequential_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test (mSPRT, τ²=1) of click-vs-view
    value means, one row per day of the experiment: running effect
    θ̂, mixture log-likelihood ratio, and the running always-valid
    p-value — the peeking-safe upgrade of the fixed-horizon DiD the
    reference's experiments layer reports. One daily conditional
    aggregate over the facts (map-side combinable), then cumulative
    windows over the daily-grain frame; the p-value's running min is
    a log-space running max so early large Λ can't overflow.
    Ref: insights_engine/experiments/did.py (fixed-horizon only)."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    is_x = F.col("event_type") == "click"
    is_y = F.col("event_type") == "view"
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum(is_x.cast("int")).alias("nx"),
        F.sum(F.when(is_x, F.col("value")).otherwise(0.0)).alias("sx"),
        F.sum(
            F.when(is_x, F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("sxx"),
        F.sum(is_y.cast("int")).alias("ny"),
        F.sum(F.when(is_y, F.col("value")).otherwise(0.0)).alias("sy"),
        F.sum(
            F.when(is_y, F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("syy"),
    )
    out = msprt_two_sample(daily, tau2=1.0)
    return out.select(
        "date",
        "n_treat",
        "n_ctrl",
        R6(F.col("theta")).alias("theta"),
        R6(F.col("log_lambda")).alias("log_lambda"),
        R6(F.col("p_always_valid")).alias("p_always_valid"),
    )


@register(
    "page_hinkley_drift",
    survey=("ST6", "ST7"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, AVG(value) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
), cum AS (
  SELECT date, v,
         AVG(v) OVER w AS run_mean,
         ROW_NUMBER() OVER (ORDER BY date) AS rn
  FROM daily
  WINDOW w AS (ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m AS (
  SELECT date, v, run_mean,
         SUM(v - run_mean - 0.005) OVER (ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
  FROM cum
), ph AS (
  SELECT date, v, run_mean, mt,
         mt - MIN(mt) OVER (ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_stat
  FROM m
)
SELECT date, ROUND(v, 6) AS daily_mean,
       ROUND(run_mean, 6) AS running_mean,
       ROUND(ph_stat, 6) AS ph_stat,
       CAST(CASE WHEN ph_stat > 5.0 THEN 1 ELSE 0 END AS INTEGER)
         AS drift_flag
FROM ph ORDER BY date
""",
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley upward-drift detector over the daily event-value
    mean — the sequential monitoring sibling of cusum_changepoint
    (CUSUM needs the baseline fixed up front; PH tracks the RUNNING
    mean, so it is the form a live pipeline monitor runs):
    Mₜ = Σ(vᵢ − v̄ᵢ − δ) with v̄ᵢ the running mean, statistic
    PHₜ = Mₜ − min_{s≤t} Mₛ, flagged when PHₜ > λ (δ=0.005, λ=5).
    Three stacked prefix windows over the daily-grain frame — the
    data-sized work is one conditional aggregate, exactly the
    msprt/acf/cusum shape."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.avg("value").alias("v")
    )
    w = Window.orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.withColumn("run_mean", F.avg("v").over(w))
    m = cum.withColumn(
        "mt",
        F.sum(F.col("v") - F.col("run_mean") - 0.005).over(w),
    )
    ph = m.withColumn(
        "ph_stat", F.col("mt") - F.min("mt").over(w)
    )
    return ph.select(
        "date",
        R6(F.col("v")).alias("daily_mean"),
        R6(F.col("run_mean")).alias("running_mean"),
        R6(F.col("ph_stat")).alias("ph_stat"),
        F.when(F.col("ph_stat") > 5.0, 1)
        .otherwise(0)
        .cast("int")
        .alias("drift_flag"),
    ).orderBy("date")


@register(
    "two_proportion_ztest",
    survey=("ST3", "ST11"),
    oracle=f"""
WITH per_user AS (
  SELECT CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS t,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END)
              > SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS conv
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
), g AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n1,
         CAST(SUM(1 - t) AS BIGINT) AS n2,
         CAST(SUM(t * conv) AS BIGINT) AS c1,
         CAST(SUM((1 - t) * conv) AS BIGINT) AS c2
  FROM per_user
), s AS (
  SELECT n1, n2, c1, c2,
         c1 / CAST(n1 AS DOUBLE) AS p1,
         c2 / CAST(n2 AS DOUBLE) AS p2,
         (c1 + c2) / CAST(n1 + n2 AS DOUBLE) AS pp
  FROM g
), zc AS (
  SELECT *, (p1 - p2) / SQRT(pp * (1.0 - pp)
             * (1.0 / n1 + 1.0 / n2)) AS z
  FROM s
)
SELECT n1, n2, c1, c2,
       ROUND(p1, 6) AS rate_treat, ROUND(p2, 6) AS rate_ctrl,
       ROUND(z, 6) AS z_stat,
       ROUND(2.0 * {_SF(z="ABS(z)")}, 6) AS p_two_sided
FROM zc
""",
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (more purchases than views)
    between the click-heavy and error-heavy arms — the pooled-SE
    rate test every experiment readout starts with, ONE per-user
    aggregate + ONE 4-counter combine; the two-sided p-value uses
    the Zelen–Severo polynomial so it participates in the
    cross-engine hash contract like welch/ks/bh before it."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)),
            1,
        ).otherwise(0).alias("t"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ),
            1,
        ).otherwise(0).alias("conv"),
    )
    g = per_user.agg(
        F.sum("t").cast("long").alias("n1"),
        F.sum(1 - F.col("t")).cast("long").alias("n2"),
        F.sum(F.col("t") * F.col("conv")).cast("long").alias("c1"),
        F.sum((1 - F.col("t")) * F.col("conv")).cast("long").alias("c2"),
    )
    # try_divide throughout (r12 ANSI audit): an EMPTY arm (n1=0 or
    # n2=0 — entirely possible when the behavioral split puts every
    # user on one side) crashed the rate and 1/n terms; a pooled rate
    # of exactly 0 or 1 (no conversions anywhere / all conversions)
    # zeroes pp·(1−pp) and crashed z. All are undefined statistics →
    # NULL (statsmodels returns NaN for the same degenerate inputs).
    p1 = F.try_divide(F.col("c1"), F.col("n1").cast("double"))
    p2 = F.try_divide(F.col("c2"), F.col("n2").cast("double"))
    pp = (F.col("c1") + F.col("c2")) / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = F.try_divide(
        p1 - p2,
        F.sqrt(
            pp
            * (1.0 - pp)
            * (
                F.try_divide(F.lit(1.0), F.col("n1"))
                + F.try_divide(F.lit(1.0), F.col("n2"))
            )
        ),
    )
    return g.select(
        "n1",
        "n2",
        "c1",
        "c2",
        R6(p1).alias("rate_treat"),
        R6(p2).alias("rate_ctrl"),
        R6(z).alias("z_stat"),
        R6(2.0 * normal_sf_approx(F.abs(z))).alias("p_two_sided"),
    )


@register(
    "mann_kendall_trend",
    survey=("ST7", "ST3"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, SUM(value) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT CASE WHEN b.v > a.v THEN 1
              WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.date < b.date
), s AS (
  SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs
), n AS (
  SELECT COUNT(*) AS n FROM daily
), ties AS (
  SELECT COALESCE(CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT), 0)
           AS tie_term
  FROM (SELECT COUNT(*) AS tc FROM daily GROUP BY v HAVING COUNT(*) > 1)
), var AS (
  SELECT (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS vs
  FROM n, ties
), zc AS (
  SELECT s_stat, n, vs,
         CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(vs)
              WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(vs)
              ELSE 0.0 END AS z
  FROM s, n, var
)
SELECT CAST(n AS BIGINT) AS n_days, s_stat,
       ROUND(vs, 6) AS var_s, ROUND(z, 6) AS z_stat,
       ROUND(2.0 * {_SF(z="ABS(z)")}, 6) AS p_two_sided
FROM zc
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test on the daily value
    series: S = Σ sign(vⱼ − vᵢ) over ordered day pairs, tie-corrected
    variance, continuity-corrected z, Zelen–Severo two-sided p — the
    distribution-free companion of theil_sen_slope (which estimates
    the slope MK tests). The pair join is DAILY-grain (n² in days —
    the lowess/walk-forward-CV bounded-frame precedent), never event
    rows; everything upstream is one conditional aggregate."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum("value").alias("v")
    ).localCheckpoint()
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, F.col("a.date") < F.col("b.date"))
        .select(sgn.alias("sgn"))
        .agg(F.sum("sgn").cast("long").alias("s_stat"))
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("tc"))
        .where(F.col("tc") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tc")
                    * (F.col("tc") - 1)
                    * (2 * F.col("tc") + 5)
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
    vs = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    j = j.withColumn("vs", vs)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("vs")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("vs")),
        )
        .otherwise(0.0)
    )
    return j.select(
        F.col("n").cast("long").alias("n_days"),
        "s_stat",
        R6(F.col("vs")).alias("var_s"),
        R6(z).alias("z_stat"),
        R6(2.0 * normal_sf_approx(F.abs(z))).alias("p_two_sided"),
    )


@register(
    "kruskal_wallis_groups",
    survey=("ST3", "A10"),
    oracle="""
WITH per_v AS (
  SELECT value AS v, event_type AS g, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), vt AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS tc FROM per_v GROUP BY v
), ranked AS (
  SELECT v, tc,
         CAST(SUM(tc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) - tc AS before_n
  FROM vt
), joined AS (
  SELECT p.g, p.c, r.before_n + (r.tc + 1) / 2.0 AS midrank
  FROM per_v p JOIN ranked r ON r.v = p.v
), gsum AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
         SUM(c * midrank) AS r_g
  FROM joined GROUP BY g
), tot AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS n,
         CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie_sum,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM vt
), h AS (
  SELECT (SELECT COUNT(*) FROM gsum) AS k, n, tie_sum,
         12.0 / (n * (n + 1.0))
           * (SELECT SUM(r_g * r_g / CAST(n_g AS DOUBLE)) FROM gsum)
           - 3.0 * (n + 1.0) AS h_raw
  FROM tot
), hc AS (
  SELECT k, n, h_raw,
         h_raw / (1.0 - tie_sum
                  / (CAST(n AS DOUBLE) * n * n - n)) AS h_corr
  FROM h
)
SELECT CAST(k AS INTEGER) AS k_groups, n AS n_obs,
       ROUND(h_raw, 6) AS h_stat,
       ROUND(h_corr, 6) AS h_tie_corrected,
       CAST(k - 1 AS INTEGER) AS dof,
       ROUND(EXP(-h_corr / 2.0) * (1.0 + h_corr / 2.0), 6)
         AS p_value
FROM hc
""",
)
def kruskal_wallis_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis k-sample rank test across ALL five event types
    — the ANOVA-free generalization of mann_whitney_groups: pooled
    tie midranks from per-distinct-value counts (the ks_two_sample
    frame shape — the window is |distinct values|, never rows),
    per-group rank sums, tie-corrected H, and — because k=5 gives an
    EVEN 4 degrees of freedom — the exact closed-form χ² upper tail
    e^{−H/2}(1 + H/2), so even the p-value sits in the cross-engine
    hash contract with no approximation polynomial needed."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_v = ev.groupBy(
        F.col("value").alias("v"), F.col("event_type").alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    vt = per_v.groupBy("v").agg(F.sum("c").cast("long").alias("tc"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vt.withColumn(
        "before_n", F.sum("tc").over(w).cast("long") - F.col("tc")
    )
    joined = per_v.join(ranked, "v").select(
        "g",
        "c",
        (F.col("before_n") + (F.col("tc") + 1) / 2.0).alias("midrank"),
    )
    gsum = joined.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * F.col("midrank")).alias("r_g"),
    )
    tot = vt.agg(
        F.sum("tc").cast("long").alias("n"),
        F.sum(
            F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")
        ).cast("long").alias("tie_sum"),
    )
    gstat = gsum.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.col("r_g") * F.col("r_g") / F.col("n_g").cast("double")
        ).alias("rsum"),
    )
    j = gstat.crossJoin(F.broadcast(tot))
    n = F.col("n")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("rsum") - 3.0 * (n + 1.0)
    j = j.withColumn("h_raw", h_raw)
    # Nested try_divide (r12 ANSI audit): n=1 zeroes n³−n, and a
    # pool where EVERY value is tied drives the tie correction to
    # exactly 0 (scipy.kruskal raises "All numbers are identical"
    # here; the distributed convention is NULL, not a job abort).
    h_corr = F.try_divide(
        F.col("h_raw"),
        1.0
        - F.try_divide(
            F.col("tie_sum"), n.cast("double") * n * n - n
        ),
    )
    j = j.withColumn("h_corr", h_corr)
    return j.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n").alias("n_obs"),
        R6(F.col("h_raw")).alias("h_stat"),
        R6(F.col("h_corr")).alias("h_tie_corrected"),
        (F.col("k") - 1).cast("int").alias("dof"),
        R6(
            F.exp(-F.col("h_corr") / 2.0) * (1.0 + F.col("h_corr") / 2.0)
        ).alias("p_value"),
    )
