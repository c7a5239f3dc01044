"""``bench.py``'s run-quality helpers: the intra-query run-spread
statistic it stamps into each record, the outlier re-run selection
against the tracked ledger, and the ledger's scale-factor gate.

No SparkSession needed: pure-JSON logic.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

IDLE_RUNS = {f"q{i}": [1.0, 1.1] for i in range(20)}
# 4/20 queries > 2× spread (20% ≥ the 5% threshold) and p90 2.6:
# the signature of stalls hitting runs of the same query unevenly.
CONTENDED_RUNS = dict(
    IDLE_RUNS, **{f"q{i}": [3.0, 7.8, 4.1] for i in range(16, 20)}
)


def test_run_spread_stats_idle_vs_contended():
    from bench import run_spread_stats

    idle = run_spread_stats(IDLE_RUNS)
    hot = run_spread_stats(CONTENDED_RUNS)
    assert idle["p90"] == pytest.approx(1.1, abs=0.01)
    assert idle["frac_gt2"] == 0.0
    assert hot["p90"] >= 2.0
    assert hot["frac_gt2"] == 0.2
    assert hot["n"] == 20
    # empty / degenerate inputs
    assert run_spread_stats({}) is None
    assert run_spread_stats({"q": []}) is None
    assert run_spread_stats({"q": [0.0, 1.0]}) is None


def test_outlier_selection_r12_incident():
    """The motivating case: rolling_hll_users_7d recorded 22.1 s in
    BENCH_r12 against a 0.79 s tracked ledger entry — it must be
    selected; pagerank at 6.4 s vs 4.2 s (1.5×) must not."""
    import bench

    led = {"rolling_hll_users_7d": 0.79, "pagerank_cust_supplier": 4.2}
    sel = bench.select_outliers(
        {"rolling_hll_users_7d": 22.1, "pagerank_cust_supplier": 6.4},
        led,
    )
    assert sel == [("rolling_hll_users_7d", 22.1)]


def test_outlier_selection_guards():
    """Sub-50ms ledger entries, <0.5 s absolute excess, None timings
    and unledgered queries never trigger; the cap keeps the worst
    excesses first."""
    import bench

    led = {"tiny": 0.01, "small": 0.2, "big": 2.0}
    assert bench.select_outliers(
        {"tiny": 1.0, "small": 0.65, "unknown": 50.0, "none": None},
        led,
    ) == []  # tiny: ledger < 50ms; small: excess 0.45 < 0.5s
    t = {f"q{i}": float(10 + i) for i in range(12)}
    le = {f"q{i}": 1.0 for i in range(12)}
    sel = bench.select_outliers(t, le)
    assert len(sel) == bench._OUTLIER_MAX_RERUNS
    assert sel[0] == ("q11", 21.0)


def test_tracked_ledger_sf_gate():
    """An sf0.01 iteration run must not compare against the sf0.1
    ledger (and vice versa)."""
    import bench

    if not os.path.exists(os.path.join(ROOT, "bench_detail.json")):
        pytest.skip("no tracked ledger")
    assert bench._tracked_ledger(0.1)  # ledger is recorded at sf0.1
    assert bench._tracked_ledger(0.01) == {}
