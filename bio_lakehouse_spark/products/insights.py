"""Insight analyzers + weekly report (ref insights_engine/insights/
base.py:26-53, sleep_readiness.py, readiness_trend.py,
training_load.py; report: reports/weekly_report.py — S17).

The reference's contract: ``analyze() -> InsightResult`` with
statistics, narrative, caveats (n<30 and p>0.05 warnings). Here each
analyzer is a pandas function of day-grain frames that
``default_analyzers`` fetches once (gold, its views, silver peloton);
where an analyzer reproduces a SQL window or aggregate it adds in
Spark's order (``spark_sum``, ``window_mean``, ``spark_stddev``), so
its floats equal the SQL result bit for bit. ``visualize`` returns a
plot *spec* dict (plotly isn't in this container — the spec carries
the same content). The weekly report runs the analyzers and renders
text/HTML with str.format templates (no jinja dependency).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from functools import reduce
import math
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from bio_lakehouse_spark.functions.dates import safe_date_pandas
from bio_lakehouse_spark.products.numerics import linregress
from bio_lakehouse_spark.session import fan_out


def ema_exact_series(s: pd.Series, span: int) -> pd.Series:
    """pandas ``ewm(span, adjust=False)`` — the exact-EMA semantics
    (W10 insights parity; the SQL layer's rolling-AVG approximation
    lives in operators.windows.ema_rolling_approx)."""
    return s.ewm(span=span, adjust=False).mean()


@dataclass
class InsightResult:
    name: str
    statistics: dict
    narrative: str
    caveats: list[str] = field(default_factory=list)
    data: pd.DataFrame | None = None


class InsightAnalyzer(ABC):
    name = "insight"

    @abstractmethod
    def analyze(self) -> InsightResult: ...

    def visualize(self, result: InsightResult) -> dict:
        """Plot spec (kind, x, y, title) — presentation layer renders."""
        return {"kind": "table", "title": self.name}

    def _base_caveats(self, n: int, p: float | None = None) -> list[str]:
        caveats = []
        if n < 30:
            caveats.append(
                f"Small sample (n={n} < 30) — treat as directional."
            )
        if p is not None and p > 0.05:
            caveats.append(
                f"Not statistically significant (p={p:.3f} > 0.05)."
            )
        return caveats


def _rows(df: pd.DataFrame, mask: pd.Series | None = None,
          order_by: str | None = None) -> pd.DataFrame:
    """``df``'s rows where ``mask`` holds, stably sorted by ``order_by``
    and numbered from 0 — a filter, ORDER BY and fetch."""
    out = df if mask is None else df[mask]
    if order_by is not None:
        out = out.sort_values(order_by, kind="stable")
    return out.reset_index(drop=True)


def _non_null(values) -> list:
    return [v for v in values if not pd.isna(v)]


def spark_sum(values):
    """Spark's ``sum``: the non-null values added left to right from
    zero; None when there are none. Adding in order (not pandas'
    compensated or pairwise sums) keeps a float sum equal to the SQL
    aggregate bit for bit."""
    present = _non_null(values)
    return reduce(lambda t, v: t + float(v), present, 0.0) if present else None


def spark_mean(values) -> float | None:
    """Spark's ``avg``: ``spark_sum`` as a double over the count of
    non-null values; None when there are none."""
    present = _non_null(values)
    return spark_sum(present) / len(present) if present else None


def window_mean(values: pd.Series, lo: int, hi: int,
                min_count: int = 1) -> pd.Series:
    """``avg(x) OVER (ORDER BY ... ROWS BETWEEN lo AND hi)`` over
    ``values`` in their order, NaN where the frame holds fewer than
    ``min_count`` non-null values. Spark re-aggregates a sliding frame
    from scratch for each row, so each mean is ``spark_mean`` of its
    frame (pandas ``rolling`` keeps a running sum and can differ in
    the last bits)."""
    x = values.tolist()
    out = []
    for i in range(len(x)):
        frame = _non_null(x[max(0, i + lo):max(0, i + hi + 1)])
        out.append(spark_mean(frame) if len(frame) >= min_count else None)
    return pd.Series(out, index=values.index, dtype=float)


def spark_stddev(values) -> float | None:
    """Spark's ``stddev`` (sample): the running update of its
    central-moment aggregate, row by row in order; None under two
    values."""
    n = avg = m2 = 0.0
    for v in values:
        n += 1.0
        delta = float(v) - avg
        delta_n = delta / n
        avg += delta_n
        m2 += delta * (delta - delta_n)
    return math.sqrt(m2 / (n - 1.0)) if n > 1 else None


def _next_day_pairs(gold: pd.DataFrame, a_mask: pd.Series,
                    b_mask: pd.Series) -> pd.DataFrame:
    """Gold ⋈ gold on ``safe_date(b.date) = safe_date(a.date) + 1``:
    each a-row with its next day's b-row, columns suffixed ``_a`` and
    ``_b``, in a's row order."""
    day = safe_date_pandas(gold["date"])
    a = gold[a_mask & day.notna()].assign(_key=day + pd.Timedelta(days=1))
    b = gold[b_mask & day.notna()].assign(_key=day)
    return a.merge(b, on="_key", suffixes=("_a", "_b"))


class SleepReadinessAnalyzer(InsightAnalyzer):
    """ST1 (ref insights/sleep_readiness.py:25-105): previous-night
    sleep → next-day readiness regression."""

    name = "sleep_readiness"

    def __init__(self, sleep_prediction: pd.DataFrame) -> None:
        self.view = sleep_prediction

    def analyze(self) -> InsightResult:
        v = self.view
        pdf = _rows(v[["sleep_date", "prev_night_sleep",
                       "next_day_readiness"]],
                    v["prev_night_sleep"].notna()
                    & v["next_day_readiness"].notna())
        n = len(pdf)
        if n < 3:
            return InsightResult(self.name, {"n": n},
                                 "Not enough data for a sleep-readiness fit.",
                                 [f"n={n}"])
        reg = linregress(
            pdf["prev_night_sleep"].to_numpy(dtype=float),
            pdf["next_day_readiness"].to_numpy(dtype=float),
        )
        narrative = (
            f"Each additional sleep point predicts "
            f"{reg['slope']:+.2f} readiness points next day "
            f"(r={reg['r']:.2f}, n={n})."
        )
        return InsightResult(
            self.name,
            {"n": n, **{k: reg[k] for k in ("slope", "intercept", "r", "p")}},
            narrative,
            self._base_caveats(n, reg["p"]),
            data=pdf,
        )


class ReadinessTrendAnalyzer(InsightAnalyzer):
    """ST7 (ref insights/readiness_trend.py:43-64): slope of the tail
    of the 14-day moving average → improving/stable/declining."""

    name = "readiness_trend"

    def __init__(self, gold: pd.DataFrame, tail_days: int = 14,
                 stable_band: float = 0.3) -> None:
        self.gold = gold
        self.tail_days = tail_days
        self.stable_band = stable_band

    def analyze(self) -> InsightResult:
        g = _rows(self.gold, self.gold["readiness_score"].notna(), "date")
        pdf = pd.DataFrame({
            "date": g["date"],
            "ma14": window_mean(g["readiness_score"], -13, 0),
        }).tail(self.tail_days)
        n = len(pdf)
        reg = linregress(np.arange(n, dtype=float),
                         pdf["ma14"].to_numpy(dtype=float))
        slope = reg["slope"]
        trend = ("improving" if slope > self.stable_band
                 else "declining" if slope < -self.stable_band else "stable")
        return InsightResult(
            self.name,
            {"n": n, "slope": slope, "trend": trend},
            f"Readiness trend over the last {n} days is {trend} "
            f"({slope:+.2f} pts/day on the 14-day average).",
            self._base_caveats(n),
            data=pdf,
        )


class TrainingLoadAnalyzer(InsightAnalyzer):
    """ST9/ST15 (ref insights/training_load.py:21-108): exact-EMA
    CTL/ATL/TSB + form band + rolling-baseline recovery impairment."""

    name = "training_load"

    def __init__(self, training_load: pd.DataFrame,
                 gold: pd.DataFrame) -> None:
        self.tl = training_load
        self.gold = gold

    def analyze(self) -> InsightResult:
        tss = _rows(self.tl[["date", "tss"]], order_by="date")
        n = len(tss)
        ctl = ema_exact_series(tss["tss"].fillna(0.0), span=42)
        atl = ema_exact_series(tss["tss"].fillna(0.0), span=7)
        tsb = float(ctl.iloc[-1] - atl.iloc[-1]) if n else 0.0
        form = ("fresh" if tsb > 15 else "neutral" if tsb >= 0
                else "building" if tsb >= -15 else "fatigued")
        # Rolling 14-day baselines of the latest day, impairment flags
        # (ST15).
        g = _rows(self.gold, self.gold["resting_heart_rate_bpm"].notna(),
                  "date")
        impaired = False
        if len(g):
            r = g.iloc[-1]
            rhr_base = spark_mean(g["resting_heart_rate_bpm"].iloc[-15:-1])
            hrv_base = spark_mean(g["hrv_ms"].iloc[-15:-1])
            impaired = bool(
                tsb < -15
                and rhr_base is not None
                and (
                    r["resting_heart_rate_bpm"] > 1.10 * rhr_base
                    or (hrv_base is not None
                        and r["hrv_ms"] < 0.85 * hrv_base)
                )
            )
        stats = {
            "n": n,
            "ctl": round(float(ctl.iloc[-1]), 1) if n else 0.0,
            "atl": round(float(atl.iloc[-1]), 1) if n else 0.0,
            "tsb": round(tsb, 1),
            "form": form,
            "recovery_impaired": impaired,
        }
        return InsightResult(
            self.name,
            stats,
            f"CTL {stats['ctl']}, ATL {stats['atl']}, TSB {stats['tsb']} "
            f"→ form: {form}"
            + (" — recovery impairment flags active." if impaired else "."),
            self._base_caveats(n),
        )


class AnomalyDetectionAnalyzer(InsightAnalyzer):
    """Readiness anomalies + missed-workout streaks (ref insights/
    anomaly_detection.py:19-96): days >1.5σ below the personal mean,
    plus 3+-day workout streaks that break. Mean and σ aggregate the
    rows in gold's order, as the SQL aggregates did."""

    name = "anomaly_detection"

    def __init__(self, gold: pd.DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        base = self.gold[self.gold["readiness_score"].notna()]
        readiness = base["readiness_score"].astype(float)
        mean_r = spark_mean(readiness) or 0.0
        std_r = spark_stddev(readiness) or 0.0
        n = len(base)
        threshold = mean_r - 1.5 * std_r
        g = _rows(base, order_by="date")
        pdf = pd.DataFrame({
            "date": g["date"],
            "readiness": g["readiness_score"].astype(float),
            "sleep": g["sleep_score"].astype(float),
            "had_workout": g["had_workout"].eq(True),
            "is_anomaly": g["readiness_score"].astype(float) < threshold,
        })
        anomaly_details = [
            {
                "date": str(r.date),
                "readiness": float(r.readiness),
                "sleep": float(r.sleep) if pd.notna(r.sleep) else None,
                "deviation": round((float(r.readiness) - mean_r) / std_r, 1)
                if std_r
                else 0.0,
            }
            for r in pdf[pdf["is_anomaly"]].itertuples()
        ]
        # Missed-workout streak breaks: 3+ consecutive workout days then
        # a rest day (ref anomaly_detection.py:50-64).
        missed, streak = [], 0
        for r in pdf.itertuples():
            if r.had_workout:
                streak += 1
            else:
                if streak >= 3:
                    missed.append(
                        {"date": str(r.date), "streak_broken": streak,
                         "readiness": float(r.readiness)}
                    )
                streak = 0
        stats = {
            "mean_readiness": round(mean_r, 1),
            "std_readiness": round(std_r, 1),
            "threshold": round(threshold, 1),
            "anomaly_count": len(anomaly_details),
            "anomaly_details": anomaly_details,
            "missed_workout_breaks": missed,
            "total_days": n,
        }
        narrative = (
            f"{len(anomaly_details)} anomalies in the past {n} days "
            f"(readiness below {threshold:.0f}, 1.5 std devs below your "
            f"mean of {mean_r:.0f})."
        )
        if anomaly_details:
            worst = min(anomaly_details, key=lambda x: x["readiness"])
            narrative += (
                f" Biggest drop: {worst['readiness']:.0f} on {worst['date']}."
            )
        if missed:
            narrative += (
                f" {len(missed)} workout-streak breaks (after 3+ "
                f"consecutive workout days)."
            )
        return InsightResult(self.name, stats, narrative,
                             self._base_caveats(n), data=pdf)

    def visualize(self, result: InsightResult) -> dict:
        return {"kind": "scatter+threshold", "x": "date", "y": "readiness",
                "threshold": result.statistics["threshold"],
                "title": "Anomaly Detection"}


class _VitalsTrendAnalyzer(InsightAnalyzer):
    """Shared engine for the HRV and RHR trend analyzers (ref
    insights/hrv_trend.py:21-119, rhr_trend.py:20-135): 7d/30d rolling
    averages (pandas min_periods semantics), a 7d-vs-30d status band,
    correlation with readiness, and the 30d-vs-prior-30d monthly
    trend."""

    metric_col = ""
    higher_is_better = True

    def __init__(self, gold: pd.DataFrame) -> None:
        self.gold = gold

    def _status(self, diff: float) -> tuple[str, str]:
        raise NotImplementedError

    def analyze(self) -> InsightResult:
        m = self.metric_col
        g = _rows(self.gold, self.gold[m].notna(), "date")
        metric = g[m].astype(float)
        pdf = pd.DataFrame({
            "date": g["date"],
            "metric": metric,
            "readiness_score": g["readiness_score"].astype(float),
            "m7": window_mean(metric, -6, 0, min_count=3),
            "m30": window_mean(metric, -29, 0, min_count=7),
        })
        n = len(pdf)
        if n == 0:
            return InsightResult(self.name, {"n": 0},
                                 f"No {m} data.", ["no data"])
        baseline = float(pdf["metric"].mean())
        baseline_std = float(pdf["metric"].std()) if n > 1 else 0.0
        latest = pdf.iloc[-1]
        cur = float(latest["metric"])
        cur7 = float(latest["m7"]) if pd.notna(latest["m7"]) else None
        cur30 = float(latest["m30"]) if pd.notna(latest["m30"]) else None
        if cur7 and cur30:
            status, status_msg, diff = self._status_of(cur7, cur30)
        else:
            status, status_msg, diff = "normal", self._normal_msg(), 0.0
        corr_data = pdf.dropna(subset=["metric", "readiness_score"])
        corr = (
            float(corr_data["metric"].corr(corr_data["readiness_score"]))
            if len(corr_data) >= 14
            else None
        )
        monthly = (
            float(pdf["metric"].tail(30).mean()
                  - pdf["metric"].iloc[-60:-30].mean())
            if n >= 60
            else None
        )
        stats = {
            "n": n,
            "current": round(cur, 1),
            "current_7d": round(cur7, 1) if cur7 else None,
            "current_30d": round(cur30, 1) if cur30 else None,
            "baseline": round(baseline, 1),
            "baseline_std": round(baseline_std, 1),
            "status": status,
            "status_msg": status_msg,
            "diff": round(diff, 1),
            "readiness_corr": round(corr, 2) if corr is not None else None,
            "monthly_trend": round(monthly, 1) if monthly is not None
            else None,
        }
        self._extra_stats(pdf, stats, baseline, baseline_std)
        parts = [f"{status_msg}."]
        if cur7 and cur30:
            parts.append(
                f"7-day avg {cur7:.0f} vs 30-day baseline {cur30:.0f}."
            )
        if monthly is not None:
            parts.append(
                f"30-day trend {monthly:+.0f} vs the prior month."
            )
        if corr is not None and abs(corr) > 0.2:
            parts.append(f"Correlates with readiness (r={corr:.2f}).")
        caveats = []
        if n < 30:
            caveats.append(
                f"Only {n} days of data — baseline may not be stable."
            )
        return InsightResult(self.name, stats, " ".join(parts), caveats,
                             data=pdf)

    def _extra_stats(self, pdf, stats, baseline, baseline_std) -> None:
        pass

    def visualize(self, result: InsightResult) -> dict:
        return {"kind": "line", "x": "date", "y": ["m7", "m30"],
                "title": self.name}


class HRVTrendAnalyzer(_VitalsTrendAnalyzer):
    """HRV trend (ref insights/hrv_trend.py:21): suppressed when the
    7-day average sits >15% below the 30-day baseline."""

    name = "hrv_trend"
    metric_col = "hrv_ms"

    def _normal_msg(self) -> str:
        return "HRV is within your normal range"

    def _status_of(self, cur7: float, cur30: float):
        diff_pct = (cur7 - cur30) / cur30 * 100
        if diff_pct < -15:
            return ("suppressed",
                    f"HRV is suppressed — 7-day avg is "
                    f"{abs(diff_pct):.0f}% below your 30-day baseline",
                    diff_pct)
        if diff_pct > 15:
            return ("elevated",
                    f"HRV is elevated — 7-day avg is {diff_pct:.0f}% "
                    f"above your 30-day baseline", diff_pct)
        return "normal", self._normal_msg(), diff_pct


class RHRTrendAnalyzer(_VitalsTrendAnalyzer):
    """Resting-HR trend (ref insights/rhr_trend.py:20): elevated when
    the 7-day avg runs >3 bpm above the 30-day baseline; also tracks
    the current consecutive-elevated-days streak (>1σ)."""

    name = "rhr_trend"
    metric_col = "resting_heart_rate_bpm"

    def _normal_msg(self) -> str:
        return "Resting heart rate is within your normal range"

    def _status_of(self, cur7: float, cur30: float):
        diff = cur7 - cur30
        if diff > 3:
            return ("elevated",
                    f"Resting HR is elevated — 7-day avg is {diff:.0f} "
                    f"bpm above your 30-day baseline", diff)
        if diff < -3:
            return ("low",
                    "Resting HR is lower than usual — a sign of good "
                    "recovery", diff)
        return "normal", self._normal_msg(), diff

    def _extra_stats(self, pdf, stats, baseline, baseline_std) -> None:
        threshold = baseline + baseline_std
        streak = 0
        for v in pdf["metric"]:
            streak = streak + 1 if v > threshold else 0
        stats["threshold"] = round(threshold, 1)
        stats["current_streak"] = streak


class TemperatureTrendAnalyzer(InsightAnalyzer):
    """Body-temperature deviations (ref insights/temperature_trend.py:
    18-113): elevated streaks (|dev|>0.3 °C), alert escalation at 3+
    consecutive days, correlation with readiness. Consumes the
    temperature_trends view (bio/views.py) which already computes the
    7-day average and status banding in Spark."""

    name = "temperature_trend"

    def __init__(self, temperature_trends: pd.DataFrame) -> None:
        self.view = temperature_trends

    def analyze(self) -> InsightResult:
        v = _rows(self.view, order_by="day")
        pdf = v[["day", "temp_deviation", "temp_trend_deviation",
                 "temp_dev_7day_avg"]].assign(
            readiness_score=v["readiness_score"].astype(float),
            elevated=v["temp_deviation"].abs() > 0.3,
        )
        n = len(pdf)
        if n == 0:
            return InsightResult(self.name, {"n": 0},
                                 "No temperature data.", ["no data"])
        streaks, streak = [], 0
        for e in pdf["elevated"]:
            streak = streak + 1 if e else 0
            streaks.append(streak)
        max_streak = max(streaks)
        current_streak = streaks[-1]
        latest = pdf.iloc[-1]
        cur = float(latest["temp_deviation"])
        corr_data = pdf.dropna(subset=["temp_deviation", "readiness_score"])
        corr = (
            float(corr_data["temp_deviation"].corr(
                corr_data["readiness_score"]))
            if len(corr_data) >= 7
            else None
        )
        if current_streak >= 3:
            alert, alert_msg = (
                "warning",
                f"Temperature elevated for {current_streak} consecutive "
                f"days",
            )
        elif abs(cur) > 0.5:
            alert, alert_msg = (
                "caution",
                f"Today's temperature deviation is notable ({cur:+.2f}C)",
            )
        else:
            alert, alert_msg = "normal", "Temperature within normal range"
        temp = pdf["temp_deviation"].dropna()
        stats = {
            "n": n,
            "current_temp_dev": round(cur, 2),
            "current_streak": current_streak,
            "max_streak": max_streak,
            "mean_deviation": round(float(temp.mean()), 2) if len(temp)
            else 0,
            "std_deviation": round(float(temp.std()), 2)
            if len(temp) > 1 else 0,
            "elevated_days_pct": round(float(pdf["elevated"].mean()) * 100,
                                       1),
            "temp_readiness_corr": round(corr, 2) if corr is not None
            else None,
            "alert": alert,
            "alert_msg": alert_msg,
        }
        caveats = []
        if n < 14:
            caveats.append(
                f"Only {n} days of temperature data — patterns may not "
                f"be reliable."
            )
        caveats.append(
            "Temperature deviations are relative to your personal "
            "baseline, not absolute body temp."
        )
        return InsightResult(self.name, stats, f"{alert_msg}.", caveats,
                             data=pdf)


class NutritionAnalyzer(InsightAnalyzer):
    """Nutrition intake vs recovery (ref insights/nutrition_analyzer.py:
    20-150): averages, macro split, 7-day tail, calorie/protein →
    readiness correlations over the logged days."""

    name = "nutrition"

    def __init__(self, gold: pd.DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        cols = ["daily_calories", "protein_g", "carbs_g", "fat_g",
                "fiber_g", "protein_pct", "meal_count",
                "readiness_score", "weight_lbs", "protein_per_lb"]
        missing = [c for c in cols if c not in self.gold.columns]
        if missing:
            return InsightResult(
                self.name, {"n": 0},
                "Nutrition columns not yet available in the gold table. "
                "Run the MFP silver normalizer and gold rebuild.",
                ["MFP pipeline has not run yet."],
            )
        logged = self.gold[self.gold["daily_calories"].notna()]
        pdf = _rows(
            pd.DataFrame({"date": logged["date"],
                          **{c: logged[c].astype(float) for c in cols}})
            .drop_duplicates("date"),
            order_by="date",
        )
        n = len(pdf)
        if n < 3:
            return InsightResult(
                self.name, {"n": n},
                "Insufficient nutrition data (need at least 3 days of "
                "MFP logging).",
                ["Not enough MFP data logged yet."], data=pdf)
        last7 = pdf.tail(7)
        both = pdf.dropna(subset=["daily_calories", "readiness_score"])
        cal_r = (
            float(both["daily_calories"].corr(both["readiness_score"]))
            if len(both) >= 5 else None
        )
        pro_both = both.dropna(subset=["protein_g"])
        pro_r = (
            float(pro_both["protein_g"].corr(pro_both["readiness_score"]))
            if len(pro_both) >= 5 else None
        )
        stats = {
            "n": n,
            "avg_calories": round(float(pdf["daily_calories"].mean()), 0),
            "avg_protein_g": round(float(pdf["protein_g"].mean()), 1),
            "avg_carbs_g": round(float(pdf["carbs_g"].mean()), 1),
            "avg_fat_g": round(float(pdf["fat_g"].mean()), 1),
            "avg_protein_pct": round(float(pdf["protein_pct"].mean()), 1)
            if pdf["protein_pct"].notna().any() else None,
            "avg_protein_per_lb":
                round(float(pdf["protein_per_lb"].mean()), 2)
                if pdf["protein_per_lb"].notna().any() else None,
            "avg_calories_7d": round(float(last7["daily_calories"].mean()),
                                     0),
            "avg_protein_7d": round(float(last7["protein_g"].mean()), 1),
            "cal_readiness_r": round(cal_r, 3) if cal_r is not None
            else None,
            "protein_readiness_r": round(pro_r, 3) if pro_r is not None
            else None,
        }
        narrative = (
            f"Averaging {stats['avg_calories']:.0f} kcal and "
            f"{stats['avg_protein_g']:.0f} g protein/day over {n} days "
            f"(last 7: {stats['avg_calories_7d']:.0f} kcal, "
            f"{stats['avg_protein_7d']:.0f} g protein)."
        )
        if cal_r is not None:
            narrative += f" Calorie↔readiness r={cal_r:.2f}."
        caveats = []
        if n < 14:
            caveats.append(
                f"Only {n} days of nutrition data — correlations will "
                f"become more reliable with 2+ weeks of logging."
            )
        avg_meals = float(pdf["meal_count"].mean())
        if avg_meals < 3:
            caveats.append(
                f"Averaging {avg_meals:.1f} meals logged/day — "
                f"incomplete logging will undercount actual intake."
            )
        return InsightResult(self.name, stats, narrative, caveats,
                             data=pdf)


class TimingCorrelationAnalyzer(InsightAnalyzer):
    """Workout intensity → next-day recovery (ref insights/
    timing_correlation.py:25-140): next-day self-join, quintile
    intensity buckets, Spearman ρ, recent-14d vs prior comparison."""

    name = "timing_correlation"
    BUCKET_LABELS = ["Rest", "Light", "Moderate", "Hard", "Max"]

    def __init__(self, gold: pd.DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        g = self.gold
        pairs = _next_day_pairs(
            g,
            g["had_workout"].eq(True) & g["total_output_kj"].notna(),
            g["readiness_score"].notna(),
        )
        pdf = _rows(pd.DataFrame({
            "date": pairs["date_a"],
            "total_output_kj": pairs["total_output_kj_a"].astype(float),
            "next_day_readiness": pairs["readiness_score_b"].astype(float),
        }), order_by="date")
        n = len(pdf)
        if n < 5:
            return InsightResult(
                self.name, {"n": n},
                "Insufficient data — need at least 5 workout days with "
                "next-day readiness.",
                ["Fewer than 5 workout days with next-day readiness."],
                data=pdf)
        q = max(2, min(5, n // 3))
        pdf["bucket"] = pd.qcut(pdf["total_output_kj"], q=q, labels=False,
                                duplicates="drop")
        if pdf["bucket"].isna().all():
            # Constant workout output (r12 degenerate bio sweep):
            # qcut with duplicates="drop" collapses EVERY bin edge
            # and returns all-NaN buckets, and int(NaN) aborted the
            # analyzer. No intensity gradient exists to correlate —
            # report that, like the n<5 path, instead of crashing.
            return InsightResult(
                self.name, {"n": n},
                "No output variation — every workout has identical "
                "total output, so intensity buckets are undefined.",
                ["Workout output is constant across all days."],
                data=pdf)
        labels = self.BUCKET_LABELS[: int(pdf["bucket"].max()) + 1]
        pdf["intensity"] = pdf["bucket"].map(dict(enumerate(labels)))
        groups = {}
        for idx, label in enumerate(labels):
            sub = pdf[pdf["bucket"] == idx]
            vals = sub["next_day_readiness"].dropna()
            if len(vals) >= 2:
                groups[label] = {
                    "mean": round(float(vals.mean()), 1),
                    "median": round(float(vals.median()), 1),
                    "std": round(float(vals.std()), 1),
                    "n": len(vals),
                    "avg_output": round(
                        float(sub["total_output_kj"].mean()), 1
                    ),
                }
        from bio_lakehouse_spark.products.discovery import spearman_np

        rho, p_val = spearman_np(
            pdf["total_output_kj"].to_numpy(dtype=float),
            pdf["next_day_readiness"].to_numpy(dtype=float),
        )
        dates = pd.to_datetime(pdf["date"])
        recent_mask = dates >= dates.max() - pd.Timedelta(days=14)
        recent = (
            float(pdf.loc[recent_mask, "next_day_readiness"].mean())
            if recent_mask.any() else None
        )
        prior = (
            float(pdf.loc[~recent_mask, "next_day_readiness"].mean())
            if (~recent_mask).any() else None
        )
        stats = {
            "groups": groups,
            "correlation": {"rho": round(float(rho), 3),
                            "p_value": round(float(p_val), 4)},
            "total_n": n,
            "recent_14d_mean": round(recent, 1) if recent is not None
            else None,
            "prior_mean": round(prior, 1) if prior is not None else None,
        }
        direction = ("harder workouts → lower next-day readiness"
                     if rho < 0 else
                     "workout intensity is not hurting next-day recovery")
        narrative = (
            f"Across {n} workouts, intensity↔next-day-readiness ρ="
            f"{rho:.2f} (p={p_val:.3f}) — {direction}."
        )
        return InsightResult(self.name, stats, narrative,
                             self._base_caveats(n, p_val), data=pdf)


class WorkoutRecoveryAnalyzer(InsightAnalyzer):
    """Next-day readiness by prior-day workout TYPE (ref insights/
    workout_recovery.py:20-135): categorize from disciplines +
    HealthKit types (first matching keyword wins), group stats,
    Mann-Whitney U between the two largest groups."""

    name = "workout_recovery"
    MIN_DAYS = 20
    # (category, keywords) in match order; Rest Day and Other Workout
    # bracket the list.
    CATEGORIES = [
        ("Cycling", ("cycling",)),
        ("Strength", ("strength",)),
        ("Walking", ("walking", "hiking")),
        ("Cardio", ("running", "bootcamp", "hiit", "high_intensity")),
        ("Recovery", ("yoga", "stretching", "meditation", "flexibility",
                      "pilates")),
    ]

    def __init__(self, gold: pd.DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        g = self.gold
        pairs = _next_day_pairs(
            g, pd.Series(True, index=g.index), g["readiness_score"].notna()
        )
        combined = (pairs["disciplines_a"].fillna("") + ","
                    + pairs["hk_workout_types_a"].fillna("")).str.lower()
        conditions = [~pairs["had_workout_a"].eq(True)] + [
            np.logical_or.reduce([combined.str.contains(k, regex=False)
                                  for k in keywords])
            for _, keywords in self.CATEGORIES
        ]
        labels = ["Rest Day"] + [c for c, _ in self.CATEGORIES]
        pdf = _rows(pd.DataFrame({
            "workout_date": pairs["date_a"],
            "workout_category": np.select(conditions, labels,
                                          "Other Workout").astype(object),
            "next_day_readiness": pairs["readiness_score_b"].astype(float),
        }), order_by="workout_date")
        unique_days = pdf["workout_date"].nunique()
        if unique_days < self.MIN_DAYS:
            return InsightResult(
                self.name, {"total_n": len(pdf),
                            "unique_days": int(unique_days)},
                f"Not enough data yet ({unique_days} unique workout "
                f"days, need {self.MIN_DAYS}+).",
                ["Insufficient data — minimum 20 unique workout days."],
                data=pdf)
        groups = {}
        for cat in pdf["workout_category"].unique():
            vals = pdf[pdf["workout_category"] == cat][
                "next_day_readiness"
            ].dropna()
            if len(vals) >= 5:
                groups[cat] = {
                    "values": vals.to_numpy(dtype=float),
                    "mean": round(float(vals.mean()), 1),
                    "median": round(float(vals.median()), 1),
                    "std": round(float(vals.std()), 1),
                    "n": len(vals),
                }
        comparisons = {}
        names = sorted(groups, key=lambda k: groups[k]["n"], reverse=True)
        if len(names) >= 2:
            from bio_lakehouse_spark.products.discovery import (
                mann_whitney_np,
            )

            g1, g2 = names[0], names[1]
            u, p = mann_whitney_np(groups[g1]["values"],
                                   groups[g2]["values"])
            comparisons[f"{g1}_vs_{g2}"] = {
                "U": round(float(u), 1),
                "p_value": round(float(p), 4),
                "significant": bool(p < 0.05),
            }
        stats = {
            "groups": {
                k: {kk: vv for kk, vv in v.items() if kk != "values"}
                for k, v in groups.items()
            },
            "comparisons": comparisons,
            "total_n": len(pdf),
        }
        if names:
            best = max(names, key=lambda k: groups[k]["mean"])
            narrative = (
                f"Across {len(pdf)} days, next-day readiness is highest "
                f"after {best} days ({groups[best]['mean']:.0f} avg)."
            )
            if comparisons:
                key, c = next(iter(comparisons.items()))
                narrative += (
                    f" {key.replace('_vs_', ' vs ')}: U={c['U']}, "
                    f"p={c['p_value']}"
                    + (" (significant)." if c["significant"] else " (n.s.).")
                )
        else:
            narrative = "No workout category has 5+ observations yet."
        return InsightResult(self.name, stats, narrative,
                             self._base_caveats(len(pdf)), data=pdf)


class RecoveryWindowAnalyzer(InsightAnalyzer):
    """Recovery duration by workout intensity (ref insights/
    recovery_windows.py:20-116) over the workout_recovery_windows gold
    table (bio/gold.py): per-intensity recovery-day stats + the
    D1/D2/D3 readiness-delta trajectory."""

    name = "recovery_windows"
    MIN_WORKOUTS = 10

    def __init__(self, recovery_windows: pd.DataFrame) -> None:
        self.view = recovery_windows

    def analyze(self) -> InsightResult:
        v = _rows(self.view, order_by="workout_date")
        pdf = v[["workout_date", "intensity"]].assign(**{
            c: v[c].astype(float)
            for c in ("days_to_recover", "readiness_delta_d1",
                      "readiness_delta_d2", "readiness_delta_d3",
                      "total_minutes", "total_calories")
        })
        n = len(pdf)
        if n < self.MIN_WORKOUTS:
            return InsightResult(
                self.name, {"total_n": n},
                f"Not enough workout data yet ({n} workouts, need "
                f"{self.MIN_WORKOUTS}+).",
                ["Insufficient data."], data=pdf)
        intensity_stats = {}
        for intensity in ("light", "moderate", "high"):
            sub = pdf[pdf["intensity"] == intensity]
            if len(sub) < 3:
                continue
            rec = sub["days_to_recover"].dropna()
            d1 = sub["readiness_delta_d1"].dropna()
            intensity_stats[intensity] = {
                "n": len(sub),
                "avg_recovery_days": round(float(rec.mean()), 1)
                if len(rec) else None,
                "median_recovery_days": round(float(rec.median()), 1)
                if len(rec) else None,
                "pct_recovered_d1": round(
                    float((rec == 1).sum() / len(rec) * 100), 0
                ) if len(rec) else None,
                "avg_readiness_drop_d1": round(float(d1.mean()), 1)
                if len(d1) else None,
                "avg_total_minutes": round(
                    float(sub["total_minutes"].mean()), 0
                ),
                "avg_calories": round(
                    float(sub["total_calories"].mean()), 0
                ),
            }
        trajectory = {
            f"d{i}": round(
                float(pdf[f"readiness_delta_d{i}"].dropna().mean()), 1
            )
            for i in (1, 2, 3)
            if pdf[f"readiness_delta_d{i}"].notna().any()
        }
        stats = {
            "total_n": n,
            "intensity_breakdown": intensity_stats,
            "avg_trajectory": trajectory,
        }
        parts = [f"Analyzed {n} workouts."]
        for name_, s in intensity_stats.items():
            if s["avg_recovery_days"] is not None:
                parts.append(
                    f"{name_.title()}: ~{s['avg_recovery_days']:.1f} days "
                    f"to recover (n={s['n']})."
                )
        caveats = [
            f"{k.title()} intensity: only {v['n']} observations."
            for k, v in intensity_stats.items() if v["n"] < 10
        ]
        return InsightResult(self.name, stats, " ".join(parts), caveats,
                             data=pdf)


class SleepArchitectureAnalyzer(InsightAnalyzer):
    """Deep/REM contributor tracking (ref insights/
    sleep_architecture.py:23-97) over the sleep_architecture view
    (bio/views.py): means, recent-7d averages, 7d rolling series,
    correlations with the overall sleep score."""

    name = "sleep_architecture"

    def __init__(self, sleep_architecture_view: pd.DataFrame) -> None:
        self.view = sleep_architecture_view

    def analyze(self) -> InsightResult:
        v = _rows(self.view, order_by="day")
        pdf = v[["day"]].assign(**{
            c: v[c].astype(float) for c in ("sleep_score", "deep_sleep",
                                          "rem_sleep")
        })
        for c in ("deep_sleep", "rem_sleep"):
            pdf[f"{c}_7d"] = window_mean(pdf[c], -6, 0, min_count=3)
        n = len(pdf)
        if n == 0:
            return InsightResult(self.name, {"n": 0}, "No sleep data.",
                                 ["no data"])
        deep, rem = pdf["deep_sleep"].dropna(), pdf["rem_sleep"].dropna()
        correlations = {}
        for factor in ("deep_sleep", "rem_sleep"):
            cd = pdf.dropna(subset=[factor, "sleep_score"])
            if len(cd) >= 7:
                correlations[factor] = round(
                    float(cd[factor].corr(cd["sleep_score"])), 2
                )
        stats = {
            "n": n,
            "sleep_mean": round(float(pdf["sleep_score"].mean()), 1),
            "deep_mean": round(float(deep.mean()), 1) if len(deep)
            else None,
            "rem_mean": round(float(rem.mean()), 1) if len(rem) else None,
            "deep_recent_7d": round(
                float(pdf["deep_sleep"].tail(7).dropna().mean()), 1
            ) if pdf["deep_sleep"].tail(7).notna().any() else None,
            "rem_recent_7d": round(
                float(pdf["rem_sleep"].tail(7).dropna().mean()), 1
            ) if pdf["rem_sleep"].tail(7).notna().any() else None,
            "correlations": correlations,
        }
        narrative = (
            f"Deep sleep averages {stats['deep_mean']} and REM "
            f"{stats['rem_mean']} over {n} nights (recent 7d: "
            f"{stats['deep_recent_7d']} / {stats['rem_recent_7d']})."
        )
        caveats = []
        if n < 14:
            caveats.append(
                f"Only {n} nights of data — trends may not be stable."
            )
        caveats.append(
            "Contributor scores are 0-100 relative quality measures, "
            "not minutes."
        )
        return InsightResult(self.name, stats, narrative, caveats,
                             data=pdf)


# Week-over-week progression thresholds (ref insights_engine/config.py:
# 97-105 OVERLOAD_THRESHOLDS).
OVERLOAD_THRESHOLDS = {
    "min_weeks": 4,
    "progression_pct": 0.02,
    "regression_pct": -0.05,
    "watts_change_threshold": 2.0,
    "output_per_min_threshold": 0.1,
    "hr_efficiency_threshold": 0.02,
}


class ProgressiveOverloadAnalyzer(InsightAnalyzer):
    """Week-over-week cycling progression (ref insights/
    progressive_overload.py:23-294): weekly aggregation over Monday
    weeks + week-over-week deltas, the 4-signal
    Progressing/Maintaining/Regressing vote and CTL context. ST16 as
    an InsightResult product — the driver-verified weekly query twin
    is suite/stats_queries.py progressive_overload_weekly."""

    name = "progressive_overload"

    def __init__(self, peloton_silver: pd.DataFrame,
                 training_load: pd.DataFrame | None = None) -> None:
        self.workouts = peloton_silver
        self.tl = training_load

    @staticmethod
    def weekly(rides: pd.DataFrame) -> pd.DataFrame:
        """One row per Monday week (``date_trunc('week')``), in week
        order: sums and means of the week's rides, accumulated in ride
        order as Spark's aggregates are, then the deltas to the week
        before (a zero-output week before leaves the change NULL)."""
        stamp = pd.to_datetime(rides["workout_date"])
        monday = stamp.dt.normalize() - pd.to_timedelta(stamp.dt.weekday,
                                                        unit="D")
        weeks: dict = {}
        for key, row in zip(monday.dt.date.where(monday.notna(), None),
                            rides.itertuples()):
            weeks.setdefault(key, []).append(row)
        rows = []
        for key in sorted(weeks, key=lambda k: (k is not None, k)):
            w = weeks[key]
            watts = spark_mean(r.avg_watts for r in w)
            hr = spark_mean(r.avg_heartrate for r in w)
            rows.append({
                "week_start": key,
                "weekly_total_output": spark_sum(
                    r.total_output_kj for r in w),
                "weekly_avg_watts": watts,
                "weekly_avg_output_per_min": spark_mean(
                    r.output_per_minute for r in w),
                "weekly_workout_count": len(w),
                "weekly_avg_hr": hr,
                "weekly_total_minutes": spark_sum(
                    r.length_minutes for r in w),
                "weekly_hr_efficiency": (
                    None if watts is None else watts / hr
                ) if hr is not None and hr > 0 else 0.0,
            })
        weekly = pd.DataFrame(rows, columns=[
            "week_start", "weekly_total_output", "weekly_avg_watts",
            "weekly_avg_output_per_min", "weekly_workout_count",
            "weekly_avg_hr", "weekly_total_minutes", "weekly_hr_efficiency",
        ])
        # Fetched, a BIGINT column is int64 unless it holds a NULL.
        for c in weekly.columns[1:]:
            integral = (c in ("weekly_workout_count", "weekly_total_minutes")
                        and weekly[c].notna().all())
            weekly[c] = weekly[c].astype("int64" if integral else float)
        prev = weekly.shift(1)
        total, prev_total = weekly["weekly_total_output"], prev[
            "weekly_total_output"]
        return weekly.assign(
            output_pct_change=((total - prev_total) / prev_total)
            .where(prev_total != 0),
            watts_delta=weekly["weekly_avg_watts"] - prev["weekly_avg_watts"],
            output_per_min_delta=weekly["weekly_avg_output_per_min"]
            - prev["weekly_avg_output_per_min"],
            hr_efficiency_delta=weekly["weekly_hr_efficiency"]
            - prev["weekly_hr_efficiency"],
        )

    def analyze(self) -> InsightResult:
        TH = OVERLOAD_THRESHOLDS
        w = self.workouts
        rides = w[w["total_output_kj"].notna() & (w["total_output_kj"] > 0)]
        if rides.empty:
            return InsightResult(
                self.name, {},
                "No cycling workouts with power data found.",
                ["Insufficient data."])
        weekly = self.weekly(rides)
        n_weeks = len(weekly)
        n_workouts = len(rides)
        if n_weeks < TH["min_weeks"]:
            return InsightResult(
                self.name, {"n_weeks": n_weeks},
                f"Need at least {TH['min_weeks']} weeks of workout data "
                f"for progressive overload tracking (currently have "
                f"{n_weeks}).",
                ["Insufficient data."])
        statuses = []
        for _, row in weekly.iterrows():
            if pd.isna(row["output_pct_change"]):
                statuses.append("Baseline")
                continue
            pos = neg = 0
            if row["output_pct_change"] > TH["progression_pct"]:
                pos += 1
            elif row["output_pct_change"] < TH["regression_pct"]:
                neg += 1
            for col, th in (
                ("watts_delta", TH["watts_change_threshold"]),
                ("output_per_min_delta", TH["output_per_min_threshold"]),
                ("hr_efficiency_delta", TH["hr_efficiency_threshold"]),
            ):
                v = row[col]
                if pd.isna(v):
                    continue
                if v > th:
                    pos += 1
                elif v < -th:
                    neg += 1
            statuses.append(
                "Progressing" if pos >= 2
                else "Regressing" if neg >= 2 else "Maintaining"
            )
        weekly["status"] = statuses
        streak = 0
        for s in reversed(statuses):
            if s == "Progressing":
                streak += 1
            else:
                break
        # CTL context from the daily TSS series (exact EMA span 42).
        ctl_now = ctl_delta = 0.0
        if self.tl is not None:
            tss = _rows(self.tl[["date", "tss"]], order_by="date")
            if len(tss) >= 7:
                ctl_series = ema_exact_series(
                    pd.to_numeric(tss["tss"], errors="coerce").fillna(0.0),
                    span=42,
                )
                ctl_now = round(float(ctl_series.iloc[-1]), 1)
                dates = pd.to_datetime(tss["date"])
                cut = dates.max() - pd.Timedelta(days=28)
                idx = dates[dates <= cut]
                ctl_4w = (
                    round(float(ctl_series.iloc[len(idx) - 1]), 1)
                    if len(idx) else ctl_now
                )
                ctl_delta = round(ctl_now - ctl_4w, 1)
        latest = weekly.iloc[-1]
        prog = int((weekly["status"] == "Progressing").sum())
        reg = int((weekly["status"] == "Regressing").sum())
        trend = ("trending upward" if prog > reg
                 else "trending downward" if reg > prog
                 else "holding steady")
        ctl_note = (
            "CTL is rising — your fitness base is growing."
            if ctl_delta > 2 else
            "CTL is dropping — consider increasing volume or check "
            "recovery." if ctl_delta < -2 else "CTL is stable."
        )
        stats = {
            "n_workouts": int(n_workouts),
            "n_weeks": n_weeks,
            "latest_week_status": latest["status"],
            "streak_weeks_progressing": streak,
            "ctl_current": ctl_now,
            "ctl_4wk_delta": ctl_delta,
        }
        narrative = (
            f"Over {n_weeks} weeks ({n_workouts} rides), output is "
            f"{trend}. This week: {latest['status']}. {ctl_note}"
        )
        caveats = []
        if n_weeks < 8:
            caveats.append(
                f"Only {n_weeks} weeks of data — trends will stabilize "
                f"with more history."
            )
        return InsightResult(self.name, stats, narrative, caveats,
                             data=weekly)


def default_analyzers(spark, gold: DataFrame,
                      silver_root: str | None = None,
                      stg_sleep_df: DataFrame | None = None,
                      peloton_silver: DataFrame | None = None,
                      recovery_windows: DataFrame | None = None,
                      ) -> list[InsightAnalyzer]:
    """The full 13-analyzer roster the reference's weekly report fans
    over (ref reports/weekly_report.py:121-205). Pass the silver
    peloton frame (or a silver_root to read it from) to include
    progressive overload; pass stg_sleep for sleep architecture. A
    silver table is read with its declared schema, so no read runs a
    job to infer one.

    Every input is day grain for one person (O(calendar days) rows;
    peloton one row per workout), so each is fetched into pandas once,
    all at once through ``fan_out`` (Arrow): gold, the recovery
    windows, silver peloton and the four views the analyzers read.
    Gold is pinned first (``gold.pin_day_grain``), so the four views
    read it from memory instead of re-scanning parquet.
    The views keep their one SQL implementation and are fetched, not
    re-derived; the analyzers are pandas functions of the frames."""
    from bio_lakehouse_spark.bio import schemas as S
    from bio_lakehouse_spark.bio import views as V
    from bio_lakehouse_spark.bio.gold import pin_day_grain, stg_sleep

    if silver_root is not None:
        if stg_sleep_df is None:
            stg_sleep_df = stg_sleep(
                spark.read.schema(S.OURA_DAILY_SLEEP_SILVER_SCHEMA)
                .parquet(f"{silver_root}/oura_daily_sleep")
            )
        if peloton_silver is None:
            peloton_silver = spark.read.schema(
                S.PELOTON_WORKOUTS_SILVER_SCHEMA
            ).parquet(f"{silver_root}/peloton_workouts")
    # Gold feeds four views as well: pinned, it is read once.
    gold = pin_day_grain(gold)
    inputs = {
        "gold": gold,
        "training_load": V.training_load_daily(gold),
        "temperature": V.temperature_trends(gold),
        # Only the pair columns: the projection sizes the self-join's
        # sides, and so its build side and the row order the
        # regression sums in.
        "sleep_prediction": V.sleep_performance_prediction(gold).select(
            "sleep_date", "prev_night_sleep", "next_day_readiness"
        ),
        "sleep_architecture": None if stg_sleep_df is None
        else V.sleep_architecture(gold, stg_sleep_df),
        "peloton": peloton_silver,
        "recovery_windows": recovery_windows,
    }
    fetched = [k for k, df in inputs.items() if df is not None]
    pdf = dict(zip(fetched, fan_out([inputs[k].toPandas for k in fetched])))
    g = pdf["gold"]
    analyzers: list[InsightAnalyzer] = [
        SleepReadinessAnalyzer(pdf["sleep_prediction"]),
        ReadinessTrendAnalyzer(g),
        TrainingLoadAnalyzer(pdf["training_load"], g),
        AnomalyDetectionAnalyzer(g),
        HRVTrendAnalyzer(g),
        RHRTrendAnalyzer(g),
        TemperatureTrendAnalyzer(pdf["temperature"]),
        NutritionAnalyzer(g),
        TimingCorrelationAnalyzer(g),
        WorkoutRecoveryAnalyzer(g),
    ]
    if "sleep_architecture" in pdf:
        analyzers.append(SleepArchitectureAnalyzer(pdf["sleep_architecture"]))
    if "peloton" in pdf:
        analyzers.append(
            ProgressiveOverloadAnalyzer(pdf["peloton"], pdf["training_load"])
        )
    if "recovery_windows" in pdf:
        analyzers.append(RecoveryWindowAnalyzer(pdf["recovery_windows"]))
    return analyzers


# ---------------------------------------------------------------------------
# Plot-spec → renderer adapter contract. The reference renders plotly
# PNGs into a WeasyPrint PDF (ref reports/weekly_report.py:121-456,
# delivery.py:17-66); this repo emits renderer-agnostic spec dicts so
# any figure backend can consume them. validate_plot_spec IS the
# contract: a spec that passes is guaranteed renderable against the
# InsightResult's data frame (pinned for every analyzer in pytest via
# a fake renderer).
# ---------------------------------------------------------------------------

PLOT_SPEC_KINDS = ("table", "line", "scatter+threshold")


def validate_plot_spec(spec: dict, data: pd.DataFrame | None) -> None:
    """Raise ValueError on any spec a renderer could not consume:
    unknown kind, missing/empty title, or data-bound kinds whose
    x/y don't name columns of the result's data frame."""
    kind = spec.get("kind")
    if kind not in PLOT_SPEC_KINDS:
        raise ValueError(f"unknown plot kind {kind!r}")
    title = spec.get("title")
    if not isinstance(title, str) or not title:
        raise ValueError("plot spec needs a non-empty str title")
    if kind == "table":
        return
    if data is None:
        raise ValueError(f"kind {kind!r} needs result data, got None")
    cols = set(data.columns)
    x = spec.get("x")
    if not isinstance(x, str) or x not in cols:
        raise ValueError(f"x={x!r} is not a data column of {sorted(cols)}")
    y = spec.get("y")
    ys = [y] if isinstance(y, str) else y
    if not isinstance(ys, list) or not ys or any(
        not isinstance(c, str) or c not in cols for c in ys
    ):
        raise ValueError(f"y={y!r} must name data columns of {sorted(cols)}")
    if kind == "scatter+threshold":
        th = spec.get("threshold")
        if not isinstance(th, (int, float)):
            raise ValueError(f"threshold must be numeric, got {th!r}")


def render_figures(
    analyzers: list[InsightAnalyzer],
    results: list[InsightResult],
    renderer,
) -> list:
    """Route every analyzer's (spec, data) pair through a figure
    backend: ``renderer(spec, data) -> figure``. Each spec is
    contract-validated first, so a backend can trust its inputs —
    the seam where a plotly/matplotlib adapter plugs in."""
    figs = []
    for a, r in zip(analyzers, results):
        spec = a.visualize(r)
        validate_plot_spec(spec, r.data)
        figs.append(renderer(spec, r.data))
    return figs


REPORT_TEMPLATE = """<html><body>
<h1>Weekly Report — {week}</h1>
{sections}
</body></html>"""

SECTION_TEMPLATE = """<h2>{name}</h2>
<p>{narrative}</p>
{stats}
{caveats}
"""


def _stats_table(stats: dict) -> str:
    """Scalar statistics as the reference report's per-section metric
    table (ref reports/weekly_report.py:121-205 renders metric cards;
    nested dicts/lists are summarized by size)."""
    rows = []
    for k, v in stats.items():
        if isinstance(v, (dict, list)):
            v = f"[{len(v)} entries]"
        rows.append(f"<tr><td>{k}</td><td>{v}</td></tr>")
    return "<table>" + "".join(rows) + "</table>" if rows else ""


class WeeklyReportGenerator:
    """S17 (ref reports/weekly_report.py:121-456): run the analyzers
    in order (pandas over frames already fetched, so threads would
    only contend for the GIL), render Jinja2 HTML with embedded plotly
    figure JSON (products.render — the reference's weekly.html
    equivalent, with browser-side plotly.js standing in for the
    reference's server-side PNG export), deliver to a file sink.
    Falls back to the plain string template if jinja2 is absent."""

    def __init__(self, analyzers: list[InsightAnalyzer]) -> None:
        self.analyzers = analyzers

    def generate(self, week_label: str) -> tuple[str, list[InsightResult]]:
        results = [a.analyze() for a in self.analyzers]
        # Only the render-module IMPORT may degrade to the plain-text
        # fallback (render raises RuntimeError solely when jinja2 is
        # absent, re-raised here as the same signal). Exceptions from
        # visualize()/spec building are REAL bugs and must propagate —
        # a blanket except here silently shipped degraded reports.
        render_weekly_html = None
        try:
            from bio_lakehouse_spark.products.render import (
                render_weekly_html,
            )
        except ImportError:  # pragma: no cover
            pass
        if render_weekly_html is not None:
            specs = {
                r.name: a.visualize(r)
                for a, r in zip(self.analyzers, results)
            }
            try:
                return (
                    render_weekly_html(week_label, results, specs),
                    results,
                )
            except RuntimeError as exc:  # pragma: no cover
                if "jinja2" not in str(exc).lower():
                    raise
        sections = []
        for r in results:
            caveats = (
                "<ul>" + "".join(f"<li>{c}</li>" for c in r.caveats) + "</ul>"
                if r.caveats else ""
            )
            sections.append(
                SECTION_TEMPLATE.format(
                    name=r.name, narrative=r.narrative,
                    stats=_stats_table(r.statistics), caveats=caveats
                )
            )
        return (
            REPORT_TEMPLATE.format(week=week_label,
                                   sections="\n".join(sections)),
            results,
        )

    def deliver(self, html: str, path: str | Path) -> str:
        out = Path(path)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(html, encoding="utf-8")
        return str(out)
