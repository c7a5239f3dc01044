"""Tests: discovery scanner, insight analyzers + weekly report,
experiment tracker/analyzer (ref test patterns: mocked-engine
integration + numeric properties, SURVEY §5)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
import pandas as pd
import pytest

from bio_lakehouse_spark.products import discovery
from bio_lakehouse_spark.products.experiments import (
    Experiment,
    ExperimentTracker,
    analyze_experiment,
    summarize,
)
from bio_lakehouse_spark.products.insights import (
    ReadinessTrendAnalyzer,
    SleepReadinessAnalyzer,
    TrainingLoadAnalyzer,
    WeeklyReportGenerator,
)

BIO_ROOT = "/root/repo/.fixtures/bio"


@pytest.fixture(scope="module")
def gold(spark):
    from bio_lakehouse_spark.bio.gold import build_gold

    return build_gold(spark, f"{BIO_ROOT}/silver")["gold_daily_rollup"]


# -- discovery --------------------------------------------------------------


def test_spearman_np_matches_known():
    # Perfect monotone → rho 1, p ~0.
    rho, p = discovery.spearman_np(
        np.array([1, 2, 3, 4, 5.0]), np.array([2, 4, 6, 8, 10.0])
    )
    assert rho == pytest.approx(1.0)
    assert p < 1e-6
    # Anti-monotone → −1.
    rho, _ = discovery.spearman_np(
        np.array([1, 2, 3, 4, 5.0]), np.array([5, 4, 3, 2, 1.0])
    )
    assert rho == pytest.approx(-1.0)


def test_mann_whitney_np_separated_groups():
    a = np.array([10.0, 11, 12, 13, 14, 15])
    b = np.array([1.0, 2, 3, 4, 5, 6])
    u1, p = discovery.mann_whitney_np(a, b)
    assert u1 == 36.0  # complete separation
    assert p < 0.01


def test_scan_correlations_finds_planted_lag():
    rng = np.random.RandomState(5)
    n = 120
    a = rng.uniform(0, 100, n)
    b = np.roll(a, 1) * 0.9 + rng.normal(0, 3, n)  # b[t] ~ a[t-1]
    noise = rng.uniform(0, 100, n)
    df = pd.DataFrame({"a": a, "b": b, "noise": noise})
    found = discovery.scan_correlations(
        df, ["a", "b", "noise"], max_lags=3, min_samples=14, trivial=set()
    )
    top = found[0]
    assert {top.metric_a, top.metric_b} == {"a", "b"}
    assert top.lag == 1
    assert top.strength in ("strong", "very_strong")
    # confidence = |rho|(1-p_corrected)
    assert top.confidence == pytest.approx(
        abs(top.rho) * (1 - top.p_corrected)
    )
    assert not any(
        {f.metric_a, f.metric_b} == {"a", "noise"} and f.p_corrected < 0.05
        for f in found
    )


def test_scan_thresholds_planted_effect():
    rng = np.random.RandomState(6)
    n = 100
    trig = rng.uniform(0, 100, n)
    out = np.empty(n)
    out[1:] = np.where(trig[:-1] >= np.quantile(trig, 0.75), 40.0, 70.0)
    out[0] = 70.0
    out += rng.normal(0, 1, n)
    df = pd.DataFrame({"total_output_kj": trig, "readiness_score": out})
    found = discovery.scan_thresholds(df)
    assert found
    f = found[0]
    assert f.trigger_metric == "total_output_kj"
    assert f.outcome_metric == "readiness_score"
    assert f.delta == pytest.approx(-30.0, abs=2.0)
    assert f.p_value < 0.01


def test_discover_end_to_end(gold, tmp_path):
    res = discovery.discover(
        gold,
        ["readiness_score", "sleep_score", "total_output_kj", "steps",
         "hrv_ms"],
        persist_path=str(tmp_path / "runs"),
    )
    assert res["total_rows"] == 150
    saved = gold.sparkSession.read.parquet(str(tmp_path / "runs")).collect()
    assert len(saved) == 1 and saved[0]["total_rows"] == 150


# -- insights + report ------------------------------------------------------


def test_insight_analyzers_and_report(spark, gold, tmp_path):
    from bio_lakehouse_spark.bio import views as V

    frame = gold.toPandas()
    analyzers = [
        SleepReadinessAnalyzer(V.sleep_performance_prediction(gold).toPandas()),
        ReadinessTrendAnalyzer(frame),
        TrainingLoadAnalyzer(V.training_load_daily(gold).toPandas(), frame),
    ]
    results = {a.name: a.analyze() for a in analyzers}
    sr = results["sleep_readiness"]
    assert sr.statistics["n"] > 30
    assert "readiness points next day" in sr.narrative
    rt = results["readiness_trend"]
    assert rt.statistics["trend"] in ("improving", "stable", "declining")
    tl = results["training_load"]
    assert tl.statistics["form"] in ("fresh", "neutral", "building", "fatigued")
    assert tl.statistics["ctl"] >= 0

    gen = WeeklyReportGenerator(analyzers)
    html, rendered = gen.generate("2025-W40")
    assert "<h1>Weekly Report" in html
    assert all(r.name in html for r in rendered)
    path = gen.deliver(html, tmp_path / "report.html")
    assert "Weekly Report" in open(path).read()


@pytest.mark.heavy  # 44 s
def test_all_13_analyzers_contract(spark, gold):
    """Every analyzer in the full roster (ref tests/test_insights.py:
    27-168 contract) returns an InsightResult with populated
    statistics + narrative on the 150-day fixture gold."""
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.products.insights import default_analyzers

    all_gold = build_gold(spark, f"{BIO_ROOT}/silver")
    analyzers = default_analyzers(
        spark, gold, silver_root=f"{BIO_ROOT}/silver",
        recovery_windows=all_gold["workout_recovery_windows"],
    )
    assert len(analyzers) == 13
    results = {a.name: a.analyze() for a in analyzers}
    assert set(results) == {
        "sleep_readiness", "readiness_trend", "training_load",
        "anomaly_detection", "hrv_trend", "rhr_trend",
        "temperature_trend", "nutrition", "timing_correlation",
        "workout_recovery", "sleep_architecture", "progressive_overload",
        "recovery_windows",
    }
    for name, r in results.items():
        assert r.narrative, name
        assert isinstance(r.statistics, dict) and r.statistics, name

    ad = results["anomaly_detection"].statistics
    assert ad["threshold"] == pytest.approx(
        ad["mean_readiness"] - 1.5 * ad["std_readiness"], abs=0.2
    )
    assert ad["anomaly_count"] == len(ad["anomaly_details"])
    for d in ad["anomaly_details"]:
        assert d["readiness"] < ad["threshold"]

    for key in ("hrv_trend", "rhr_trend"):
        s = results[key].statistics
        assert s["status"] in ("suppressed", "elevated", "low", "normal")
        assert s["n"] >= 100
        assert s["current_7d"] is not None
    assert "current_streak" in results["rhr_trend"].statistics

    tt = results["temperature_trend"].statistics
    assert tt["alert"] in ("normal", "caution", "warning")
    assert tt["max_streak"] >= tt["current_streak"]

    nut = results["nutrition"].statistics
    assert nut["avg_calories"] > 0 and nut["avg_protein_g"] > 0
    assert abs(nut["cal_readiness_r"] or 0) <= 1

    tc = results["timing_correlation"].statistics
    assert -1 <= tc["correlation"]["rho"] <= 1
    assert all(g["n"] >= 2 for g in tc["groups"].values())

    wr = results["workout_recovery"].statistics
    assert all(g["n"] >= 5 for g in wr["groups"].values())
    for c in wr["comparisons"].values():
        assert 0 <= c["p_value"] <= 1

    rw = results["recovery_windows"].statistics
    assert rw["total_n"] >= 10
    assert set(rw["avg_trajectory"]) <= {"d1", "d2", "d3"}

    sa = results["sleep_architecture"].statistics
    assert sa["deep_mean"] is not None and sa["rem_mean"] is not None
    assert set(sa["correlations"]) <= {"deep_sleep", "rem_sleep"}

    po = results["progressive_overload"].statistics
    assert po["latest_week_status"] in (
        "Baseline", "Progressing", "Maintaining", "Regressing"
    )
    assert po["n_weeks"] >= 4 and po["ctl_current"] >= 0


def test_weekly_report_covers_all_sections(spark, gold):
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.products.insights import default_analyzers

    all_gold = build_gold(spark, f"{BIO_ROOT}/silver")
    analyzers = default_analyzers(
        spark, gold, silver_root=f"{BIO_ROOT}/silver",
        recovery_windows=all_gold["workout_recovery_windows"],
    )
    gen = WeeklyReportGenerator(analyzers)
    html, rendered = gen.generate("2025-W41")
    assert len(rendered) == 13
    # generate() runs the analyzers concurrently; sections must still
    # come out in analyzer order, equal to a one-at-a-time loop.
    expected = [a.analyze() for a in analyzers]
    assert [(r.name, r.narrative) for r in rendered] == [
        (r.name, r.narrative) for r in expected
    ]
    heads = [html.find(f"<h2>{r.name}</h2>") for r in rendered]
    assert -1 not in heads and heads == sorted(heads)


# -- experiments ------------------------------------------------------------


def _metric_frame(spark, pre_level: float, post_level: float,
                  start="2025-07-01", n_pre=28, n_post=28):
    import datetime

    rng = np.random.RandomState(7)
    rows = []
    d0 = datetime.date.fromisoformat(start)
    for i in range(-n_pre, n_post):
        rows.append(
            {
                "date": (d0 + datetime.timedelta(days=i)).isoformat(),
                "metric": float(
                    (pre_level if i < 0 else post_level)
                    + rng.normal(0, 2.0)
                ),
            }
        )
    return spark.createDataFrame(rows, schema="date string, metric double")


def test_experiment_detects_planted_effect(spark):
    daily = _metric_frame(spark, pre_level=70, post_level=78)
    res = analyze_experiment(daily, "metric", "2025-07-01")
    assert res["valid"]
    b = res["bayesian"]
    assert 5 < b["effect"] < 11
    assert b["p_positive"] > 0.95
    assert b["verdict"] == "Likely positive effect"
    assert res["did"]["effect"] > 4  # flat pre-trend → DiD ≈ raw effect
    assert "Likely positive effect" in summarize(res)


def test_experiment_null_effect_inconclusive(spark):
    daily = _metric_frame(spark, pre_level=70, post_level=70.3)
    res = analyze_experiment(daily, "metric", "2025-07-01")
    assert res["valid"]
    assert res["bayesian"]["verdict"] in (
        "Negligible effect", "Inconclusive — effect crosses zero",
        "Small positive effect",
    )


def test_experiment_tracker_roundtrip(spark, tmp_path):
    tr = ExperimentTracker(spark, str(tmp_path / "experiments"))
    assert tr.load_all() == []
    e = Experiment("e1", "more sleep", "readiness_score", "2025-07-01")
    tr.save(e)
    e2 = Experiment("e1", "more sleep", "readiness_score", "2025-07-01",
                    status="completed")
    tr.save(e2)
    tr.save(Experiment("e2", "zone2", "hrv_ms", "2025-08-01"))
    loaded = {x.experiment_id: x for x in tr.load_all()}
    assert len(loaded) == 2
    assert loaded["e1"].status == "completed"  # latest row wins


def datetime_day(i: int):
    import datetime

    return datetime.date(2024, 1, 1) + datetime.timedelta(days=i)


def test_discover_per_entity_parallel_scan(spark):
    """The applyInPandas per-entity scan must agree with the driver-
    side scan run on one entity's frame."""
    import pandas as pd

    from bio_lakehouse_spark.products.discovery import (
        discover_per_entity,
        scan_correlations,
    )

    rng = np.random.RandomState(11)
    rows = []
    for uid in (1, 2):
        a = rng.uniform(0, 100, 40)
        b = np.roll(a, 1) * 0.9 + rng.normal(0, 2, 40)
        for i in range(40):
            rows.append((uid, datetime_day(i), float(a[i]), float(b[i])))
    df = spark.createDataFrame(
        rows, schema="user_id long, date date, m1 double, m2 double"
    )
    got = discover_per_entity(
        df, ["m1", "m2"], max_lags=2, min_samples=10, min_rho=0.3
    ).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == {1, 2}
    # Sequential oracle on user 1's frame.
    pdf = (
        df.filter("user_id = 1").orderBy("date").toPandas()
    )
    seq = scan_correlations(pdf, ["m1", "m2"], max_lags=2,
                            min_samples=10, min_rho=0.3, trivial=set())
    dist = sorted((r["metric_a"], r["metric_b"], r["lag"],
                   round(r["rho"], 9)) for r in by_user[1])
    assert dist == sorted(
        (f.metric_a, f.metric_b, f.lag, round(f.rho, 9)) for f in seq
    )


def test_approx_sketches_within_error(spark):
    """Sketch aggregates for the 100 TB count-distinct / percentile
    path: approx_count_distinct within its rsd bound; percentile_approx
    at max accuracy equals the exact percentile on this data."""
    df = spark.range(0, 200_000).selectExpr(
        "id % 13717 AS k", "CAST(id % 997 AS DOUBLE) AS v"
    )
    row = df.agg(
        F.approx_count_distinct("k", rsd=0.02).alias("approx"),
        F.countDistinct("k").alias("exact"),
        F.percentile_approx("v", 0.75, 10000).alias("p75_approx"),
        F.expr("percentile(v, 0.75)").alias("p75_exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06
    assert row["p75_approx"] == pytest.approx(row["p75_exact"], abs=1.0)


# -- plot-spec renderer contract --------------------------------------------


class FakeRenderer:
    """Test double for a figure backend (plotly/matplotlib adapter):
    consumes a validated spec + data frame and 'draws' by resolving
    every referenced series — exactly what a real backend does before
    styling. Any spec naming a missing column or omitting a needed
    field dies here, pinning the visualize() surface (ref
    weekly_report.py:121-456 parity)."""

    def __init__(self):
        self.figures = []

    def __call__(self, spec, data):
        fig = {"kind": spec["kind"], "title": spec["title"], "series": {}}
        if spec["kind"] != "table":
            xs = data[spec["x"]].tolist()
            fig["series"]["x"] = xs
            y = spec["y"]
            for col in [y] if isinstance(y, str) else y:
                series = data[col].tolist()
                assert len(series) == len(xs)
                fig["series"][col] = series
            if spec["kind"] == "scatter+threshold":
                fig["threshold"] = float(spec["threshold"])
        self.figures.append(fig)
        return fig


def test_every_analyzer_spec_renders_through_the_double(spark, gold):
    """Every analyzer in the full weekly-report roster must emit a
    plot spec the renderer contract accepts AND a fake backend can
    actually draw from the result's data — the spec→figure adapter
    is pinned, not assumed."""
    from bio_lakehouse_spark.bio.gold import build_gold
    from bio_lakehouse_spark.products.insights import (
        default_analyzers,
        render_figures,
        validate_plot_spec,
    )

    tables = build_gold(spark, f"{BIO_ROOT}/silver")
    analyzers = default_analyzers(
        spark,
        tables["gold_daily_rollup"],
        silver_root=f"{BIO_ROOT}/silver",
        recovery_windows=tables["workout_recovery_windows"],
    )
    assert len(analyzers) == 13, "full reference roster"
    results = [a.analyze() for a in analyzers]
    renderer = FakeRenderer()
    figs = render_figures(analyzers, results, renderer)
    assert len(figs) == 13
    # Data-bound kinds must have drawn non-empty series.
    for fig in figs:
        if fig["kind"] != "table":
            assert fig["series"]["x"], f"empty x series in {fig['title']}"

    # The contract rejects what a backend couldn't draw.
    import pandas as pd

    good = pd.DataFrame({"date": [1, 2], "m7": [1.0, 2.0]})
    with pytest.raises(ValueError, match="unknown plot kind"):
        validate_plot_spec({"kind": "pie", "title": "t"}, good)
    with pytest.raises(ValueError, match="not a data column"):
        validate_plot_spec(
            {"kind": "line", "title": "t", "x": "nope", "y": "m7"}, good
        )
    with pytest.raises(ValueError, match="threshold must be numeric"):
        validate_plot_spec(
            {"kind": "scatter+threshold", "title": "t", "x": "date",
             "y": "m7", "threshold": None},
            good,
        )


def test_render_weekly_html_embeds_plotly_figures():
    """products.render: plot specs become plotly figure JSON embedded
    in the Jinja2 document (ref reports/weekly_report.py:121-456 +
    templates/weekly.html — browser-side plotly.js replaces the
    reference's server-side PNG export); narratives are autoescaped;
    table-kind sections get no chart div."""
    import json as _json

    import pandas as pd

    from bio_lakehouse_spark.products.insights import InsightResult
    from bio_lakehouse_spark.products.render import (
        plot_spec_to_plotly,
        render_weekly_html,
    )

    df = pd.DataFrame(
        {"date": pd.to_datetime(["2025-10-01", "2025-10-02"]),
         "m7": [1.0, 2.0], "m30": [1.5, None]}
    )
    r_line = InsightResult(
        name="hrv_trend", statistics={"n": 2}, narrative="up & away",
        caveats=["Small sample (n=2 < 30) — treat as directional."],
        data=df,
    )
    r_table = InsightResult(
        name="nutrition", statistics={"kcal": 2000.5}, narrative="ok",
    )
    specs = {
        "hrv_trend": {"kind": "line", "x": "date", "y": ["m7", "m30"],
                      "title": "HRV"},
        "nutrition": {"kind": "table", "title": "nutrition"},
    }
    html = render_weekly_html("2025-W41", [r_line, r_table], specs)
    # narrative autoescaped, both sections present, one chart div only
    assert "up &amp; away" in html
    assert "<h2>hrv_trend</h2>" in html and "<h2>nutrition</h2>" in html
    assert html.count('class="chart"') == 1
    assert "cdn.plot.ly" in html
    # the embedded figure JSON parses and nulls the NaN gap
    figs = _json.loads(
        html.split("var FIGS = ")[1].split(";\n")[0]
    )
    (fig,) = figs.values()
    assert [t["name"] for t in fig["data"]] == ["m7", "m30"]
    assert fig["data"][1]["y"] == [1.5, None]
    assert fig["data"][0]["x"] == ["2025-10-01T00:00:00", "2025-10-02T00:00:00"]

    # threshold kind draws the dashed rule across the x extent
    fig2 = plot_spec_to_plotly(
        {"kind": "scatter+threshold", "x": "date", "y": "m7",
         "threshold": 1.25, "title": "t"},
        df,
    )
    assert fig2["data"][1]["y"] == [1.25, 1.25]
    assert fig2["data"][1]["line"] == {"dash": "dash"}
    # table kind and missing columns degrade to no figure
    assert plot_spec_to_plotly({"kind": "table", "title": "t"}, df) is None
    assert plot_spec_to_plotly(
        {"kind": "line", "x": "nope", "y": "m7", "title": "t"}, df
    ) is None


def test_pdf_delivery_seam(tmp_path):
    """products.delivery (ref reports/delivery.py:17-66): HTML always
    lands; PDF renders through the injected PdfRendererFn, and with
    no injection the default ladder (WeasyPrint → built-in
    mini_pdf_renderer) ships a structurally valid PDF carrying the
    report text; renderer=False demands full layout and raises
    without WeasyPrint."""
    from pathlib import Path

    import pytest as _pytest

    from bio_lakehouse_spark.products.delivery import (
        PdfUnavailableError,
        deliver_weekly,
        pdf_bytes,
        save_pdf,
    )

    # injected-renderer write path
    p = save_pdf("<p>x</p>", tmp_path / "inj.pdf",
                 renderer=lambda h: b"%PDF-1.7\nfake")
    assert p.read_bytes().startswith(b"%PDF-")

    html = "<html><body><h1>W41</h1></body></html>"

    def fake_renderer(h: str) -> bytes:
        # deterministic fake "PDF": magic header + the source length
        return b"%PDF-1.7\n" + str(len(h)).encode()

    # injected renderer path
    out = deliver_weekly(html, tmp_path, "2025-W41", renderer=fake_renderer)
    assert out["pdf"] is not None
    pdf = (tmp_path / "2025-W41" / "weekly-report.pdf").read_bytes()
    assert pdf.startswith(b"%PDF-") and pdf == pdf_bytes(html, fake_renderer)
    assert (tmp_path / "2025-W41" / "weekly-report.html").read_text() == html

    # no injection: the default ladder (weasyprint → built-in mini
    # renderer) ships a REAL pdf — structurally valid (header, xref,
    # trailer) and carrying the report text
    out2 = deliver_weekly(html, tmp_path, "2025-W42")
    assert out2["pdf"] is not None
    real = Path(out2["pdf"]).read_bytes()
    assert real.startswith(b"%PDF-1.")
    assert b"startxref" in real and real.rstrip().endswith(b"%%EOF")
    assert b"(W41)" in real  # the <h1> text made it into a Tj op
    assert (tmp_path / "2025-W42" / "weekly-report.html").exists()

    # PdfUnavailableError stays reachable for explicit renderer-less
    # calls that bypass the ladder
    with _pytest.raises(PdfUnavailableError):
        pdf_bytes(html, renderer=False)  # type: ignore[arg-type]

    # a renderer that returns non-bytes is a bug, not a fallback
    with _pytest.raises(TypeError):
        pdf_bytes(html, lambda h: "not-bytes")
