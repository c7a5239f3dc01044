"""Experiment tracker + analyzer (ST10/ST11 — ref
insights_engine/experiments/tracker.py:61-123, analyzer.py:52-390).

Tracker: experiments as rows in an append-only parquet table (the
reference keeps S3 JSON). Analyzer: pre/post period split by date
range → Spark aggregates → closed-form Bayesian Normal-Normal update
(posterior effect, 95% CI, P(effect>0), Cohen's d, verdict bands) and
difference-in-differences with a parallel-trends check; plus the
14-day rolling correlation series. Heavy lifting is the engine's
distributed aggregates; only the scalar posterior math runs on the
driver.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bio_lakehouse_spark.functions.dates import safe_date
from bio_lakehouse_spark.products.numerics import linregress


@dataclass
class Experiment:
    experiment_id: str
    name: str
    metric: str
    start_date: str  # intervention start (post-period begins here)
    pre_days: int = 28
    post_days: int = 28
    status: str = "active"


class ExperimentTracker:
    """Append-only parquet experiment registry (S3-JSON replacement)."""

    SCHEMA = (
        "experiment_id string, name string, metric string, "
        "start_date string, pre_days int, post_days int, status string, "
        "updated_at double"
    )

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def save(self, exp: Experiment) -> None:
        self.spark.createDataFrame(
            [{**exp.__dict__, "updated_at": time.time()}], schema=self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(self.path)

    def load_all(self) -> list[Experiment]:
        """Latest row per experiment_id wins."""
        try:
            df = self.spark.read.parquet(self.path)
        except Exception:  # noqa: BLE001 — no experiments yet
            return []
        rows = (
            df.withColumn(
                "_rn",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy("experiment_id")
                    .orderBy(F.desc("updated_at"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "updated_at")
            .collect()
        )
        return [Experiment(**r.asDict()) for r in rows]


def _norm_cdf(x: float) -> float:
    return 0.5 * math.erfc(-x / math.sqrt(2))


def analyze_experiment(
    daily: DataFrame, metric: str, start_date: str,
    pre_days: int = 28, post_days: int = 28,
) -> dict:
    """Bayesian + DiD analysis of one experiment.

    ``daily`` must have a varchar ``date`` and the metric column. The
    pre-period is [start−pre_days, start); post is [start,
    start+post_days). Aggregates run distributed; the conjugate update
    and trend extrapolation are scalar driver math.
    """
    d = safe_date("date")
    start = F.lit(start_date).cast("date")
    labeled = daily.select(
        d.alias("d"), F.col(metric).cast("double").alias("v")
    ).filter(F.col("v").isNotNull()).withColumn(
        "period",
        F.when(
            (F.col("d") >= F.date_sub(start, pre_days)) & (F.col("d") < start),
            "pre",
        ).when(
            (F.col("d") >= start)
            & (F.col("d") < F.date_add(start, post_days)),
            "post",
        ),
    ).filter(F.col("period").isNotNull())
    agg = labeled.groupBy("period").agg(
        F.avg("v").alias("mean"),
        F.stddev("v").alias("std"),
        F.count("v").alias("n"),
    ).collect()
    stats = {r["period"]: r for r in agg}
    if "pre" not in stats or "post" not in stats:
        return {"valid": False, "reason": "missing pre or post data"}
    pre, post = stats["pre"], stats["post"]
    if pre["n"] < 3 or post["n"] < 3 or not pre["std"] or not post["std"]:
        return {"valid": False, "reason": "insufficient samples"}

    # Bayesian Normal-Normal conjugate update (ST10 — ref
    # experiments/analyzer.py:105-171): weakly informative prior
    # N(pre_mean, pre_std²) — the FULL pre variance, not the standard
    # error, so the prior barely shrinks a well-sampled post period.
    prior_var = pre["std"] ** 2
    like_var = post["std"] ** 2 / post["n"]
    post_var = 1 / (1 / prior_var + 1 / like_var)
    post_mean = post_var * (pre["mean"] / prior_var + post["mean"] / like_var)
    effect = post_mean - pre["mean"]
    post_sd = math.sqrt(post_var)
    ci_low, ci_high = effect - 1.96 * post_sd, effect + 1.96 * post_sd
    p_positive = 1 - _norm_cdf(-effect / post_sd) if post_sd > 0 else (
        1.0 if effect > 0 else 0.0
    )
    pooled = math.sqrt(
        ((pre["n"] - 1) * pre["std"] ** 2 + (post["n"] - 1) * post["std"] ** 2)
        / (pre["n"] + post["n"] - 2)
    )
    # d is measured on the POSTERIOR effect (reference semantics).
    cohens_d = effect / pooled if pooled else 0.0
    if abs(cohens_d) < 0.2:
        verdict = "Negligible effect"
    elif ci_low > 0:
        verdict = ("Likely positive effect" if cohens_d > 0.5
                   else "Small positive effect")
    elif ci_high < 0:
        verdict = ("Likely negative effect" if cohens_d < -0.5
                   else "Small negative effect")
    else:
        verdict = "Inconclusive — effect crosses zero"

    # DiD (ST11): pre-trend fit → counterfactual extrapolation.
    pre_rows = (
        labeled.filter(F.col("period") == "pre").orderBy("d").collect()
    )
    import numpy as np

    xs = np.arange(len(pre_rows), dtype=float)
    ys = np.array([r["v"] for r in pre_rows])
    trend = linregress(xs, ys)
    r2 = trend["r"] ** 2
    parallel_ok = r2 > 0.3
    # counterfactual post mean = extrapolated pre-trend at post midpoint
    mid = len(pre_rows) + post["n"] / 2
    counterfactual = trend["slope"] * mid + trend["intercept"]
    did_effect = post["mean"] - counterfactual

    return {
        "valid": True,
        "pre": {"mean": pre["mean"], "std": pre["std"], "n": pre["n"]},
        "post": {"mean": post["mean"], "std": post["std"], "n": post["n"]},
        "bayesian": {
            "effect": effect,
            "ci_low": ci_low,
            "ci_high": ci_high,
            "p_positive": p_positive,
            "cohens_d": cohens_d,
            "verdict": verdict,
        },
        "did": {
            "pre_trend_slope": trend["slope"],
            "pre_trend_r2": r2,
            "parallel_trends_ok": parallel_ok,
            "counterfactual_post_mean": counterfactual,
            "effect": did_effect,
        },
    }


def summarize(result: dict) -> str:
    if not result.get("valid"):
        return f"Experiment inconclusive: {result.get('reason')}"
    b = result["bayesian"]
    return (
        f"Posterior effect {b['effect']:+.2f} "
        f"[{b['ci_low']:.2f}, {b['ci_high']:.2f}], "
        f"P(effect>0)={b['p_positive']:.2f}, d={b['cohens_d']:.2f} "
        f"→ {b['verdict']}."
    )


def to_json(result: dict) -> str:
    return json.dumps(result, default=float)
