"""Presentation rendering — the HTML layer of the weekly report.

Closes the reference's presentation gap (ref reports/
weekly_report.py:121-456 renders Jinja2 HTML with embedded plotly
charts; ref reports/templates/weekly.html): analyzer plot-SPEC dicts
(products.insights.InsightAnalyzer.visualize) are converted to
plotly *figure JSON* — plotly figures are plain data (`data` +
`layout` dicts), so the browser-side plotly.js CDN bundle renders
them without the Python plotly package existing here at all. The
engine stays presentation-free: this module is the only place HTML
exists, and nothing in the query path imports it.

PDF export remains a documented integration seam (the reference uses
a headless-chromium print; no such binary ships in this environment).
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd

try:  # jinja2 ships here; guarded anyway so the engine never hard-fails
    from jinja2 import Environment, select_autoescape

    _JINJA = Environment(autoescape=select_autoescape(["html"]))
except ImportError:  # pragma: no cover
    _JINJA = None


def plot_spec_to_plotly(
    spec: dict[str, Any], data: pd.DataFrame | None
) -> dict[str, Any] | None:
    """Convert an analyzer plot spec ({kind, x, y, title, ...}) plus
    its result frame into a plotly figure dict (data/layout) — the
    exact JSON ``plotly.graph_objects.Figure.to_plotly_json()`` would
    emit for the same chart, built without the library.

    Spec kinds mirror the reference's chart builders:
    - ``line``: one trace per y column (7d/30d rolling pairs).
    - ``scatter+threshold``: value scatter + horizontal threshold
      line (anomaly detection).
    - ``table``: no figure (the stats table is already rendered).
    """
    kind = spec.get("kind", "table")
    if kind == "table" or data is None or len(data) == 0:
        return None
    xcol = spec.get("x")
    if xcol not in data.columns:
        return None

    def col(name: str) -> list:
        s = data[name]
        if pd.api.types.is_datetime64_any_dtype(s):
            return [v.isoformat() for v in s]
        return [None if pd.isna(v) else v for v in s.tolist()]

    xs = col(xcol)
    traces: list[dict[str, Any]] = []
    ycols = spec.get("y", [])
    if isinstance(ycols, str):
        ycols = [ycols]
    ycols = [y for y in ycols if y in data.columns]
    if not ycols:
        return None

    if kind == "line":
        for y in ycols:
            traces.append(
                {"type": "scatter", "mode": "lines", "name": y,
                 "x": xs, "y": col(y)}
            )
    elif kind == "scatter+threshold":
        y = ycols[0]
        traces.append(
            {"type": "scatter", "mode": "markers", "name": y,
             "x": xs, "y": col(y)}
        )
        thr = spec.get("threshold")
        if thr is not None and len(xs) >= 2:
            traces.append(
                {"type": "scatter", "mode": "lines", "name": "threshold",
                 "line": {"dash": "dash"},
                 "x": [xs[0], xs[-1]], "y": [thr, thr]}
            )
    else:
        return None

    return {
        "data": traces,
        "layout": {
            "title": {"text": spec.get("title", "")},
            "margin": {"t": 40, "r": 20, "b": 40, "l": 50},
            "height": 320,
        },
    }


_WEEKLY_TEMPLATE = """<!doctype html>
<html lang="en">
<head>
<meta charset="utf-8">
<title>Weekly Report — {{ week }}</title>
{% if charts %}<script src="https://cdn.plot.ly/plotly-2.35.2.min.js"></script>{% endif %}
<style>
body { font-family: system-ui, sans-serif; margin: 2rem auto; max-width: 56rem; color: #1a1a1a; }
.card { border: 1px solid #e3e3e3; border-radius: 8px; padding: 1rem 1.25rem; margin: 1rem 0; }
.card h2 { margin-top: 0; font-size: 1.1rem; }
table.stats td { padding: 0.15rem 0.75rem 0.15rem 0; color: #444; }
ul.caveats { color: #8a5a00; font-size: 0.9rem; }
.chart { min-height: 320px; }
</style>
</head>
<body>
<h1>Weekly Report — {{ week }}</h1>
{% for s in sections %}
<div class="card">
  <h2>{{ s.name }}</h2>
  <p>{{ s.narrative }}</p>
  {% if s.stats %}
  <table class="stats">
    {% for k, v in s.stats %}<tr><td>{{ k }}</td><td>{{ v }}</td></tr>{% endfor %}
  </table>
  {% endif %}
  {% if s.caveats %}
  <ul class="caveats">{% for c in s.caveats %}<li>{{ c }}</li>{% endfor %}</ul>
  {% endif %}
  {% if s.chart_id %}<div class="chart" id="{{ s.chart_id }}"></div>{% endif %}
</div>
{% endfor %}
{% if charts %}
<script>
var FIGS = {{ charts_json | safe }};
for (var id in FIGS) { Plotly.newPlot(id, FIGS[id].data, FIGS[id].layout, {displayModeBar: false}); }
</script>
{% endif %}
</body>
</html>
"""


def _fmt_stat(v: Any) -> str:
    if isinstance(v, (dict, list)):
        return f"[{len(v)} entries]"
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def render_weekly_html(
    week_label: str,
    results: list,
    specs: dict[str, dict] | None = None,
    frames: dict[str, pd.DataFrame] | None = None,
) -> str:
    """Render the weekly report as a standalone HTML document
    (Jinja2, autoescaped — narratives are data, not markup). Charts:
    for each result whose spec converts to a plotly figure, a div +
    one shared ``Plotly.newPlot`` loop over the embedded figure JSON.

    ``results`` are products.insights.InsightResult; ``specs`` maps
    result name → visualize() spec; ``frames`` maps result name → the
    DataFrame behind the chart (defaults to ``result.data``)."""
    if _JINJA is None:  # pragma: no cover
        raise RuntimeError("jinja2 unavailable — HTML rendering disabled")
    specs = specs or {}
    frames = frames or {}
    sections = []
    charts: dict[str, dict] = {}
    for r in results:
        chart_id = None
        spec = specs.get(r.name)
        if spec is not None:
            fig = plot_spec_to_plotly(
                spec, frames.get(r.name, getattr(r, "data", None))
            )
            if fig is not None:
                chart_id = f"chart-{len(charts)}"
                charts[chart_id] = fig
        sections.append(
            {
                "name": r.name,
                "narrative": r.narrative,
                "stats": [(k, _fmt_stat(v)) for k, v in r.statistics.items()],
                "caveats": r.caveats,
                "chart_id": chart_id,
            }
        )
    tmpl = _JINJA.from_string(_WEEKLY_TEMPLATE)
    return tmpl.render(
        week=week_label,
        sections=sections,
        charts=charts,
        # `| safe` inside <script>: escape the one sequence that could
        # break out of the block (data is numeric/dates, but belt+braces)
        charts_json=json.dumps(charts).replace("</", "<\\/"),
    )
