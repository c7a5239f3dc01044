"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Runs every workload untraced and traced on sf0.001 tables and a short
request stream, and checks that:

- the last line has exactly the result keys and every metric
  ``BENCHMARK.json`` names for the mode, each with its unit;
- the report line carries every end-to-end figure the workload owes,
  and a traced run every per-layer figure, each with a unit;
- in every traced op, the self times of the op's span tree sum to the
  op span's wall time, and the status tracker and the event log agree
  on the job count of every span;
- a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes
  the benchmark exit non-zero without printing a result.

Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY = ["--sf", "0.001", "--requests", "30", "--seconds", "1"]

E2E = {
    "medallion_refresh": ["request_p50_ms", "request_tail_ms",
                          "requests_per_s", "write_amp"],
    "query_suite": [],
}
E2E_ALL = ["setup_s", "first_pass_s", "pass_s", "error_rate", "peak_rss_mb",
           "jvm_heap_peak_mb", "host_probe_ms"]
SILVER = ["oura_daily_readiness", "oura_daily_sleep", "oura_daily_activity",
          "peloton_workouts", "healthkit_daily_vitals", "healthkit_workouts",
          "healthkit_body", "healthkit_mindfulness", "mfp_daily_nutrition"]
ANALYZERS = [
    "SleepReadinessAnalyzer", "ReadinessTrendAnalyzer", "TrainingLoadAnalyzer",
    "AnomalyDetectionAnalyzer", "HRVTrendAnalyzer", "RHRTrendAnalyzer",
    "TemperatureTrendAnalyzer", "NutritionAnalyzer",
    "TimingCorrelationAnalyzer", "WorkoutRecoveryAnalyzer",
    "SleepArchitectureAnalyzer", "ProgressiveOverloadAnalyzer",
    "RecoveryWindowAnalyzer",
]
QUERIES = ["pagerank_cust_supplier", "pricing_summary", "sessionize_gap30",
           "rolling_avg_windows", "asof_last_purchase",
           "multimodal_audio_chunks"]
LAYERS = {
    "medallion_refresh": (
        [f"bio.silver.{k}" for k in ("s", "jobs", "tasks", "driver_gap_s",
                                     "rows_in", "rows_out", "rows_dropped")]
        + [f"bio.silver.{t}.s" for t in SILVER]
        + [f"sources.sinks.{k}" for k in ("write_s", "files", "bytes")]
        + [f"bio.gold.{k}" for k in ("s", "jobs", "tasks", "driver_gap_s",
                                     "rows_out", "shuffle_bytes")]
        + ["bio.views.s", "bio.views.jobs", "products.briefing.s",
           "products.briefing.jobs", "products.insights.s",
           "products.insights.jobs", "products.insights.driver_self_s"]
        + [f"products.insights.{a}.s" for a in ANALYZERS]
        + [f"engine.facade.{k}" for k in (
            "gate_ms", "miss_ms", "jobs_per_miss", "fetch_ms", "hit_ratio",
            "hit_ms", "jobs_per_hit", "refused", "unsafe_attempted")]
        + [f"products.nl_sql.{k}" for k in ("translate_ms", "answer_ms",
                                            "ask_ms")]
    ),
    "query_suite": (
        [f"suite.{k}" for k in (
            "build_s", "build_jobs", "driver_gap_s", "action_s",
            "action_jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_bytes")]
        + [f"suite.{q}.{p}_s" for q in QUERIES for p in ("build", "action")]
    ),
}


def run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    proc = run(ROOT, "--workload", workload, "--seed", "3", "--trace",
               str(trace), *TINY)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    report, last = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    problems = []
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(last)}")
    if not last["correct"] or last["failed"] or last["attempted"] < 1:
        problems.append(f"outputs not correct: {last['failed']} failed")
    names = spec["per_layer" if trace else "end_to_end"]
    if set(last["metrics"]) != {m["name"] for m in names}:
        problems.append(f"metrics {sorted(last['metrics'])}")
    for m in names:
        got = last["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(
            got.get("value"), (int, float)
        ):
            problems.append(f"metric {m['name']}: {got}")
    owed = [("end_to_end", n) for n in E2E_ALL + E2E[workload]]
    if trace:
        owed += [("per_layer", n) for n in LAYERS[workload]]
    for section, name in owed:
        entry = report.get(section, {}).get(name)
        if entry is None or not entry.get("unit"):
            problems.append(f"{section} {name} missing")
    if report["end_to_end"]["error_rate"]["value"] != 0:
        problems.append("error_rate is not 0")
    if trace:
        problems += check_spans(json.loads((ROOT / report["record"]).read_text()))
    return problems


def check_spans(record: dict) -> list[str]:
    spans = record["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    problems = []
    for root in (s for s in spans if s["parent"] is None):
        total, todo = 0.0, [root]
        while todo:
            s = todo.pop()
            total += s["self_s"]
            todo.extend(kids.get(s["id"], ()))
        if not math.isclose(total, root["wall_s"], abs_tol=1e-6):
            problems.append(f"span {root['name']}: self times {total} "
                            f"!= wall {root['wall_s']}")
    for s in spans:
        if s["parent"] is None and s["jobs"] != s["log_jobs"]:
            problems.append(f"span {s['name']}: tracker {s['jobs']} jobs, "
                            f"event log {s['log_jobs']}")
    if not spans:
        problems.append("no spans recorded")
    return problems


def check_bare_directory() -> list[str]:
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "--workload", "query_suite", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return ["bare directory: benchmark did not fail"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = {"bare directory": check_bare_directory()}
    for workload in E2E:
        for trace in (0, 1):
            failures[f"{workload} trace={trace}"] = check_run(workload, trace, spec)
    for name, problems in failures.items():
        print(f"{'ok  ' if not problems else 'FAIL'} {name}")
        for p in problems:
            print(f"     {p}")
    return 1 if any(failures.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
