"""Insight analyzers + weekly report (ref insights_engine/insights/
base.py:26-53, sleep_readiness.py, readiness_trend.py,
training_load.py; report: reports/weekly_report.py — S17).

The reference's contract: ``analyze() -> InsightResult`` with
statistics, narrative, caveats (n<30 and p>0.05 warnings). Here
``analyze`` runs Spark ops against the engine's views and collects
only the small result; ``visualize`` returns a plot *spec* dict
(plotly isn't in this container — the spec carries the same content).
The weekly report fans across analyzers and renders text/HTML with
str.format templates (no jinja dependency).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


class SleepReadinessAnalyzer(InsightAnalyzer):
    """ST1 (ref insights/sleep_readiness.py:25-105): previous-night
    sleep → next-day readiness regression."""

    name = "sleep_readiness"

    def __init__(self, sleep_prediction: DataFrame) -> None:
        self.view = sleep_prediction

    def analyze(self) -> InsightResult:
        pdf = (
            self.view.filter(
                F.col("prev_night_sleep").isNotNull()
                & F.col("next_day_readiness").isNotNull()
            )
            .select("sleep_date", "prev_night_sleep", "next_day_readiness")
            .toPandas()
        )
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

    def __init__(self, gold: DataFrame, tail_days: int = 14,
                 stable_band: float = 0.3) -> None:
        self.gold = gold
        self.tail_days = tail_days
        self.stable_band = stable_band

    def analyze(self) -> InsightResult:
        from pyspark.sql import Window

        w = Window.orderBy("date").rowsBetween(-13, 0)
        pdf = (
            self.gold.filter(F.col("readiness_score").isNotNull())
            .select("date", F.avg("readiness_score").over(w).alias("ma14"))
            .orderBy("date")
            .toPandas()
            .tail(self.tail_days)
        )
        n = len(pdf)
        import numpy as np

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

    def __init__(self, training_load: DataFrame, gold: DataFrame) -> None:
        self.tl = training_load
        self.gold = gold

    def analyze(self) -> InsightResult:
        tss = self.tl.orderBy("date").select("date", "tss").toPandas()
        n = len(tss)
        ctl = ema_exact_series(tss["tss"].fillna(0.0), span=42)
        atl = ema_exact_series(tss["tss"].fillna(0.0), span=7)
        tsb = float(ctl.iloc[-1] - atl.iloc[-1]) if n else 0.0
        form = ("fresh" if tsb > 15 else "neutral" if tsb >= 0
                else "building" if tsb >= -15 else "fatigued")
        # Rolling 14-day baselines, impairment flags (ST15).
        from pyspark.sql import Window

        wb = Window.orderBy("date").rowsBetween(-14, -1)
        latest = (
            self.gold.filter(F.col("resting_heart_rate_bpm").isNotNull())
            .select(
                "date",
                "resting_heart_rate_bpm",
                "hrv_ms",
                F.avg("resting_heart_rate_bpm").over(wb).alias("rhr_base"),
                F.avg("hrv_ms").over(wb).alias("hrv_base"),
            )
            .orderBy(F.desc("date"))
            .limit(1)
            .collect()
        )
        impaired = False
        if latest:
            r = latest[0]
            impaired = bool(
                tsb < -15
                and r["rhr_base"] is not None
                and (
                    r["resting_heart_rate_bpm"] > 1.10 * r["rhr_base"]
                    or (r["hrv_base"] is not None
                        and r["hrv_ms"] < 0.85 * r["hrv_base"])
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


def _rolling_avg(col: str, lo: int, min_periods: int):
    """Row-window rolling mean that mirrors pandas
    ``rolling(n, min_periods=k)``: null until k non-null rows are in
    the window. Global date order — single-user daily grain."""
    from pyspark.sql import Window

    w = Window.orderBy("date").rowsBetween(lo, 0)
    return F.when(
        F.count(col).over(w) >= min_periods, F.avg(col).over(w)
    )


class AnomalyDetectionAnalyzer(InsightAnalyzer):
    """Readiness anomalies + missed-workout streaks (ref insights/
    anomaly_detection.py:19-96): days >1.5σ below the personal mean,
    plus 3+-day workout streaks that break. Mean/σ/flags computed in
    Spark; only the flagged days and the daily had_workout series
    (bounded by calendar days) reach the driver."""

    name = "anomaly_detection"

    def __init__(self, gold: DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        base = self.gold.filter(F.col("readiness_score").isNotNull())
        stats_row = base.agg(
            F.avg("readiness_score").alias("mean_r"),
            F.stddev("readiness_score").alias("std_r"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        mean_r = float(stats_row["mean_r"] or 0.0)
        std_r = float(stats_row["std_r"] or 0.0)
        n = int(stats_row["n"])
        threshold = mean_r - 1.5 * std_r
        pdf = (
            base.select(
                "date",
                F.col("readiness_score").cast("double").alias("readiness"),
                F.col("sleep_score").cast("double").alias("sleep"),
                F.coalesce(F.col("had_workout"), F.lit(False)).alias(
                    "had_workout"
                ),
                (F.col("readiness_score") < F.lit(threshold)).alias(
                    "is_anomaly"
                ),
            )
            .orderBy("date")
            .toPandas()
        )
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
    averages (Spark windows, pandas min_periods semantics), a
    7d-vs-30d status band, correlation with readiness, and the
    30d-vs-prior-30d monthly trend."""

    metric_col = ""
    higher_is_better = True

    def __init__(self, gold: DataFrame) -> None:
        self.gold = gold

    def _status(self, diff: float) -> tuple[str, str]:
        raise NotImplementedError

    def analyze(self) -> InsightResult:
        m = self.metric_col
        pdf = (
            self.gold.filter(F.col(m).isNotNull())
            .select(
                "date",
                F.col(m).cast("double").alias("metric"),
                F.col("readiness_score").cast("double").alias(
                    "readiness_score"
                ),
            )
            .withColumn("metric", F.col("metric"))
            .select(
                "date",
                "metric",
                "readiness_score",
                _rolling_avg("metric", -6, 3).alias("m7"),
                _rolling_avg("metric", -29, 7).alias("m30"),
            )
            .orderBy("date")
            .toPandas()
        )
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

    def __init__(self, temperature_trends: DataFrame) -> None:
        self.view = temperature_trends

    def analyze(self) -> InsightResult:
        pdf = (
            self.view.select(
                "day", "temp_deviation", "temp_trend_deviation",
                "temp_dev_7day_avg",
                F.col("readiness_score").cast("double").alias(
                    "readiness_score"
                ),
                (F.abs("temp_deviation") > 0.3).alias("elevated"),
            )
            .orderBy("day")
            .toPandas()
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
    readiness correlations. All aggregates run in Spark; the daily
    frame collected is calendar-bounded."""

    name = "nutrition"

    def __init__(self, gold: DataFrame) -> None:
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
        pdf = (
            self.gold.filter(F.col("daily_calories").isNotNull())
            .select("date", *[F.col(c).cast("double").alias(c)
                              for c in cols])
            .dropDuplicates(["date"])
            .orderBy("date")
            .toPandas()
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
    timing_correlation.py:25-140): next-day self-join in Spark,
    quintile intensity buckets, Spearman ρ, recent-14d vs prior
    comparison."""

    name = "timing_correlation"
    BUCKET_LABELS = ["Rest", "Light", "Moderate", "Hard", "Max"]

    def __init__(self, gold: DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        from bio_lakehouse_spark.functions.dates import safe_date

        a, b = self.gold.alias("a"), self.gold.alias("b")
        pdf = (
            a.join(
                b,
                safe_date(F.col("b.date"))
                == F.date_add(safe_date(F.col("a.date")), 1),
            )
            .filter(
                (F.col("a.had_workout") == True)  # noqa: E712
                & F.col("a.total_output_kj").isNotNull()
                & F.col("b.readiness_score").isNotNull()
            )
            .select(
                F.col("a.date").alias("date"),
                F.col("a.total_output_kj").cast("double").alias(
                    "total_output_kj"
                ),
                F.col("b.readiness_score").cast("double").alias(
                    "next_day_readiness"
                ),
            )
            .orderBy("date")
            .toPandas()
        )
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
    HealthKit types (Spark CASE chain), group stats, Mann-Whitney U
    between the two largest groups."""

    name = "workout_recovery"
    MIN_DAYS = 20

    def __init__(self, gold: DataFrame) -> None:
        self.gold = gold

    def analyze(self) -> InsightResult:
        from bio_lakehouse_spark.functions.dates import safe_date

        a, b = self.gold.alias("a"), self.gold.alias("b")
        combined = F.lower(
            F.concat_ws(
                ",",
                F.coalesce(F.col("a.disciplines"), F.lit("")),
                F.coalesce(F.col("a.hk_workout_types"), F.lit("")),
            )
        )
        category = (
            F.when(
                F.coalesce(F.col("a.had_workout"), F.lit(False)) == False,  # noqa: E712
                "Rest Day",
            )
            .when(combined.contains("cycling"), "Cycling")
            .when(combined.contains("strength"), "Strength")
            .when(
                combined.contains("walking") | combined.contains("hiking"),
                "Walking",
            )
            .when(
                combined.contains("running")
                | combined.contains("bootcamp")
                | combined.contains("hiit")
                | combined.contains("high_intensity"),
                "Cardio",
            )
            .when(
                combined.contains("yoga")
                | combined.contains("stretching")
                | combined.contains("meditation")
                | combined.contains("flexibility")
                | combined.contains("pilates"),
                "Recovery",
            )
            .otherwise("Other Workout")
        )
        pdf = (
            a.join(
                b,
                safe_date(F.col("b.date"))
                == F.date_add(safe_date(F.col("a.date")), 1),
            )
            .filter(F.col("b.readiness_score").isNotNull())
            .select(
                F.col("a.date").alias("workout_date"),
                category.alias("workout_category"),
                F.col("b.readiness_score").cast("double").alias(
                    "next_day_readiness"
                ),
            )
            .orderBy("workout_date")
            .toPandas()
        )
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

    def __init__(self, recovery_windows: DataFrame) -> None:
        self.view = recovery_windows

    def analyze(self) -> InsightResult:
        pdf = (
            self.view.select(
                "workout_date", "intensity",
                F.col("days_to_recover").cast("double").alias(
                    "days_to_recover"
                ),
                *[
                    F.col(c).cast("double").alias(c)
                    for c in ("readiness_delta_d1", "readiness_delta_d2",
                              "readiness_delta_d3", "total_minutes",
                              "total_calories")
                ],
            )
            .orderBy("workout_date")
            .toPandas()
        )
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

    def __init__(self, sleep_architecture_view: DataFrame) -> None:
        self.view = sleep_architecture_view

    def analyze(self) -> InsightResult:
        from pyspark.sql import Window

        w7 = Window.orderBy("day").rowsBetween(-6, 0)
        pdf = (
            self.view.select(
                "day",
                *[
                    F.col(c).cast("double").alias(c)
                    for c in ("sleep_score", "deep_sleep", "rem_sleep")
                ],
            )
            .select(
                "*",
                F.when(F.count("deep_sleep").over(w7) >= 3,
                       F.avg("deep_sleep").over(w7)).alias("deep_sleep_7d"),
                F.when(F.count("rem_sleep").over(w7) >= 3,
                       F.avg("rem_sleep").over(w7)).alias("rem_sleep_7d"),
            )
            .orderBy("day")
            .toPandas()
        )
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
    progressive_overload.py:23-294): weekly aggregation + deltas run in
    Spark (window lag over the weekly grain), the 4-signal
    Progressing/Maintaining/Regressing vote and CTL context on the
    collected weekly frame. ST16 as an InsightResult product — the
    driver-verified weekly query twin is suite/stats_queries.py
    progressive_overload_weekly."""

    name = "progressive_overload"

    def __init__(self, peloton_silver: DataFrame,
                 training_load: DataFrame | None = None) -> None:
        self.workouts = peloton_silver
        self.tl = training_load

    def analyze(self) -> InsightResult:
        from pyspark.sql import Window

        TH = OVERLOAD_THRESHOLDS
        df = self.workouts.filter(
            F.col("total_output_kj").isNotNull()
            & (F.col("total_output_kj") > 0)
        )
        if df.isEmpty():
            return InsightResult(
                self.name, {},
                "No cycling workouts with power data found.",
                ["Insufficient data."])
        week = F.date_trunc("week", F.col("workout_date")).cast("date")
        weekly_sdf = (
            df.groupBy(week.alias("week_start"))
            .agg(
                F.sum("total_output_kj").alias("weekly_total_output"),
                F.avg("avg_watts").alias("weekly_avg_watts"),
                F.avg("output_per_minute").alias(
                    "weekly_avg_output_per_min"
                ),
                F.count(F.lit(1)).alias("weekly_workout_count"),
                F.avg("avg_heartrate").alias("weekly_avg_hr"),
                F.sum("length_minutes").alias("weekly_total_minutes"),
            )
            .withColumn(
                "weekly_hr_efficiency",
                F.when(
                    F.col("weekly_avg_hr") > 0,
                    F.col("weekly_avg_watts") / F.col("weekly_avg_hr"),
                ).otherwise(F.lit(0.0)),
            )
        )
        w = Window.orderBy("week_start")
        lag = lambda c: F.lag(F.col(c), 1).over(w)  # noqa: E731
        weekly = (
            weekly_sdf.select(
                "*",
                # try_divide: a zero-output week in the lag position
                # aborted the whole report under ANSI mode (r11 audit)
                F.try_divide(
                    F.col("weekly_total_output")
                    - lag("weekly_total_output"),
                    lag("weekly_total_output"),
                ).alias("output_pct_change"),
                (F.col("weekly_avg_watts") - lag("weekly_avg_watts")).alias(
                    "watts_delta"
                ),
                (F.col("weekly_avg_output_per_min")
                 - lag("weekly_avg_output_per_min")).alias(
                    "output_per_min_delta"
                ),
                (F.col("weekly_hr_efficiency")
                 - lag("weekly_hr_efficiency")).alias(
                    "hr_efficiency_delta"
                ),
            )
            .orderBy("week_start")
            .toPandas()
        )
        n_weeks = len(weekly)
        n_workouts = df.count()
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
            tss = (
                self.tl.select("date", "tss").orderBy("date").toPandas()
            )
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
    progressive overload; pass stg_sleep for sleep architecture.

    Every input is day grain for one person (O(calendar days) rows;
    peloton one row per workout), so each is pinned first, all at
    once (``gold.pin_day_grain``): the analyzers' windows and
    aggregates then read one in-memory partition and plan no
    exchange. The pins live as long as the returned analyzers."""
    from bio_lakehouse_spark.bio import views as V
    from bio_lakehouse_spark.bio.gold import pin_day_grain, stg_sleep

    if silver_root is not None:
        if stg_sleep_df is None:
            stg_sleep_df = stg_sleep(
                spark.read.parquet(f"{silver_root}/oura_daily_sleep")
            )
        if peloton_silver is None:
            peloton_silver = spark.read.parquet(
                f"{silver_root}/peloton_workouts"
            )
    gold, stg_sleep_df, peloton_silver, recovery_windows = fan_out([
        (lambda df=df: None if df is None else pin_day_grain(df))
        for df in (gold, stg_sleep_df, peloton_silver, recovery_windows)
    ])
    analyzers: list[InsightAnalyzer] = [
        SleepReadinessAnalyzer(V.sleep_performance_prediction(gold)),
        ReadinessTrendAnalyzer(gold),
        TrainingLoadAnalyzer(V.training_load_daily(gold), gold),
        AnomalyDetectionAnalyzer(gold),
        HRVTrendAnalyzer(gold),
        RHRTrendAnalyzer(gold),
        TemperatureTrendAnalyzer(V.temperature_trends(gold)),
        NutritionAnalyzer(gold),
        TimingCorrelationAnalyzer(gold),
        WorkoutRecoveryAnalyzer(gold),
    ]
    if stg_sleep_df is not None:
        analyzers.append(
            SleepArchitectureAnalyzer(
                V.sleep_architecture(gold, stg_sleep_df)
            )
        )
    if peloton_silver is not None:
        analyzers.append(
            ProgressiveOverloadAnalyzer(
                peloton_silver, V.training_load_daily(gold)
            )
        )
    if recovery_windows is not None:
        analyzers.append(RecoveryWindowAnalyzer(recovery_windows))
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
    """S17 (ref reports/weekly_report.py:121-456): fan across the
    analyzers concurrently (``session.fan_out``; results stay in
    analyzer order), render Jinja2 HTML with embedded plotly
    figure JSON (products.render — the reference's weekly.html
    equivalent, with browser-side plotly.js standing in for the
    reference's server-side PNG export), deliver to a file sink.
    Falls back to the plain string template if jinja2 is absent."""

    def __init__(self, analyzers: list[InsightAnalyzer]) -> None:
        self.analyzers = analyzers

    def generate(self, week_label: str) -> tuple[str, list[InsightResult]]:
        results = fan_out([a.analyze for a in self.analyzers])
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
