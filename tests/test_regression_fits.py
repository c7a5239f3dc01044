"""Property tests for operators/stats.huber_irls_fit, poisson_glm_fit
and logistic_gd_fit — the oracle audits certify the trajectory on the
corpus; these pin the estimators' MATH on constructed data where the
right answer is known analytically (or, for logistic_gd_fit, by the
same update written out in numpy).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.stats import (
    huber_irls_fit,
    logistic_gd_fit,
    poisson_glm_fit,
)


def _fit_row(df):
    return df.collect()[0]


def test_huber_on_clean_line_recovers_it(spark):
    """No outliers → IRLS stays at the OLS solution, which is the
    exact generating line."""
    rows = [(float(x), 3.0 + 2.0 * x) for x in range(30)]
    d = spark.createDataFrame(rows, "x double, y double")
    r = _fit_row(huber_irls_fit(d, "x", "y", iters=3))
    assert r["a"] == pytest.approx(3.0, abs=1e-9)
    assert r["b"] == pytest.approx(2.0, abs=1e-9)


def test_huber_downweights_gross_outlier(spark):
    """One gross outlier: OLS slope is dragged far off; the Huber fit
    must land much closer to the true line."""
    rows = [(float(x), 3.0 + 2.0 * x + (0.5 if x % 2 else -0.5))
            for x in range(40)]
    rows.append((20.0, 100000.0))
    d = spark.createDataFrame(rows, "x double, y double")
    ols = d.agg(
        (
            (F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y") / F.count(F.lit(1)))
            / (F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x") / F.count(F.lit(1)))
        ).alias("b")
    ).collect()[0]["b"]
    hub = _fit_row(huber_irls_fit(d, "x", "y", iters=3))
    assert abs(hub["b"] - 2.0) < abs(ols - 2.0) / 10
    assert abs(hub["b"] - 2.0) < 1.0


def test_poisson_intercept_only_is_log_mean(spark):
    """x constant → the GLM must converge to b0 = ln(mean y) with
    the slope direction degenerate; with x = 0 exactly, b0 after any
    number of steps equals ln(avg y)."""
    rows = [(0.0, float(y)) for y in (2, 3, 4, 5, 6, 4, 4, 4)]
    d = spark.createDataFrame(rows, "x double, y double")
    r = _fit_row(poisson_glm_fit(d, "x", "y", iters=0))
    assert r["b0"] == pytest.approx(math.log(4.0), abs=1e-12)


def test_poisson_recovers_known_rates(spark):
    """Two x levels with exact Poisson means mu = exp(1 + 0.5x):
    Newton from the saturated start converges to the generating
    coefficients (the two-point problem is exactly identified)."""
    mu0, mu1 = math.exp(1.0), math.exp(1.5)
    rows = [(0.0, mu0)] * 50 + [(1.0, mu1)] * 50
    d = spark.createDataFrame(rows, "x double, y double")
    r = _fit_row(poisson_glm_fit(d, "x", "y", iters=8))
    assert r["b0"] == pytest.approx(1.0, abs=1e-6)
    assert r["b1"] == pytest.approx(0.5, abs=1e-6)


def test_huber_weights_bounded(spark):
    """The returned delta is positive and finite on real-ish data."""
    rows = [(float(x % 7), float((x * 37) % 23)) for x in range(50)]
    d = spark.createDataFrame(rows, "x double, y double")
    r = _fit_row(huber_irls_fit(d, "x", "y", iters=2))
    assert r["delta"] > 0 and math.isfinite(r["a"]) and math.isfinite(r["b"])


def _logistic_rows():
    return [
        (0.1 * (i % 7), 0.3 * (i % 4) - 0.4, float((i * 5) % 3 == 0))
        for i in range(24)
    ]


def test_logistic_gd_zero_steps_is_zero(spark):
    d = spark.createDataFrame(_logistic_rows(), "x1 double, x2 double, y double")
    r = _fit_row(logistic_gd_fit(d, ["x1", "x2"], "y", steps=0))
    assert r.asDict() == {"b0": 0.0, "b1": 0.0, "b2": 0.0}


def test_logistic_gd_matches_numpy_update(spark):
    """Four steps equal the textbook full-batch update
    β ← β + η·mean(X(y − σ(Xβ))) from β = 0, η = 2."""
    rows = _logistic_rows()
    d = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    r = _fit_row(logistic_gd_fit(d, ["x1", "x2"], "y", steps=4))
    a = np.array(rows)
    x = np.column_stack([np.ones(len(a)), a[:, 0], a[:, 1]])
    y = a[:, 2]
    b = np.zeros(3)
    for _ in range(4):
        s = 1.0 / (1.0 + np.exp(-(x @ b)))
        b = b + 2.0 * (x * (y - s)[:, None]).mean(axis=0)
    assert [r["b0"], r["b1"], r["b2"]] == pytest.approx(b.tolist(), abs=1e-12)
