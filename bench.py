"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized via the noop sink
(``df.write.format("noop").mode("overwrite").save()``): unlike
``count()``, the noop sink consumes every column of every row, so
Catalyst cannot prune the Window/Join/regex workload out of the
measured plan (count() demonstrably dropped the work nodes for 17/36
headline queries in round 1). Every query runs twice and the faster
run is recorded — steady-state throughput, which
is what a long-lived cluster delivers: the first run of each query
SHAPE pays one-time whole-stage-codegen class generation + JVM JIT
(measured 1.5-2 s/query at sf0.1, independent of data size, i.e. pure
fixed cost that vanishes at real scale and on a warm cluster).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bio_lakehouse_spark.session import get_spark
from bio_lakehouse_spark.suite import REGISTRY

# Headline set: one per operator family, weighted toward the
# shuffle/join/window-heavy queries that dominate at scale.
HEADLINE = [
    "pricing_summary",
    "top_orders",
    "region_nation_rollup",
    "events_daily_rollup",
    "full_outer_coalesce_chain",
    "rolling_avg_windows",
    "lag_lead_deltas",
    "forward_fill_gaps",
    "sessionize_gap30",
    "concurrent_sessions",
    "percentile_stats",
    "pearson_ols_lagged",
    "spearman_rho",
    "asof_last_purchase",
    "range_join_error_window",
    "salted_skew_agg",
    "sql_facade_roundtrip",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_banded",
    "pii_redaction",
    "text_quality",
    "text_token_counts",
    "text_rolling_hash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "embedding_neardup",
    "regional_nation_revenue",
    "sole_returned_supplier",
    "sequence_packing",
    "gopher_repetition",
    "decontaminate_eval_overlap",
    "dedup_frequent_lines",
    "temperature_mixture_sample",
    "chunk_overlap_windows",
    "unigram_lm_quality",
    "nb_quality_filter",
    "repeated_span_flags",
    "corpus_filter_pipeline",
    "ann_ivf_recall",
    "seasonal_decompose_weekly",
    "pq_adc_topk",
    "pagerank_cust_supplier",
    "text_char_entropy",
    "pq_rerank_topk",
    "pack_pairs_minpad",
    "dataset_manifest",
    "dedup_containment",
    "versioned_snapshot_read",
    "dataset_diff",
    "psi_drift_monitor",
    "bitext_mining_mutual",
    "hybrid_rrf_fusion",
    "mmr_diversified_topk",
    "dedup_incremental_batch",
    "dedup_incremental_minhash",
    "source_level_filter",
    "constraint_check_orders",
    "interpolate_daily_gaps",
    "rolling_7d_range_window",
    "fuzzy_name_match",
    # round-4 distributed conversions (formerly driver-side numpy):
    "lowess_daily_trend",
    "discovery_scan_per_user",
    "feature_selection_mi",
    # round-4 second half: stats toolkit, graph, pipeline additions
    "theil_sen_slope",
    "bh_fdr_discovery",
    "holt_linear_forecast",
    "bootstrap_ci_poisson",
    "graph_triangle_stats",
    "graph_neighbor_jaccard",
    "semdedup_verdicts",
    "crossdoc_ngram_spans",
    "tfidf_top_terms",
    "rolling_distinct_users_7d",
    "scd2_user_dimension",
    "attribution_last_touch",
    "skew_profile_keys",
    "target_encode_oof",
    "hard_negative_mining",
    "ivm_join_refresh_audit",
    "inverted_index_topdf",
    "association_rules_topk",
    "collocations_pmi_topk",
    "session_top_paths",
    "conformal_interval_daily",
    "dedup_prefix_filter",
    "rolling_hll_users_7d",
    "multimodal_audio_chunks",
    "weighted_median_discrete",
    "cuped_adjustment",
    "attribution_linear_multitouch",
    "dense_ids_scalable",
    "pii_column_scan",
    "point_in_time_features",
    "join_size_estimate",
]

# The HEADLINE list above is PINNED (same membership every round) so
# round-over-round totals are apples-to-apples. Queries not in it are
# still benched on a rotation: each bench run times a 32-query slice
# of the remaining registry, chosen COVERAGE-FIRST (r8, VERDICT r7
# #6): never-recorded queries first, then least-recently-recorded,
# judged from the BENCH_r*.json files the driver leaves in the repo
# root. A registry that grew 131 → 276 under the old fixed-stride
# rotation had accumulated 95 never-benched queries; this ordering
# drains that tail in ~3 rounds and then degrades to oldest-first
# round-robin.
ROTATION_SLICE = 32

# One mid-suite calib re-probe every N headline queries (plus one at
# the end) — the contention timeline stamped into the record.
_CALIB_EVERY = 24


# Tracked, committed-by-the-builder coverage snapshot (read-only at
# run time) + an UNTRACKED live overlay under bench_out/ that every
# run appends to. The split keeps `git status` clean after a driver
# bench run (VERDICT r8 #4: the driver's run used to overwrite the
# builder's tracked ledger in place); the builder folds the overlay
# into the tracked snapshot when committing a round.
_COVERAGE_FILE = "bench_coverage.json"
_OUT_DIR = "bench_out"


def _current_round() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        return 1 + len(
            [f for f in os.listdir(here)
             if f.startswith("BENCH_r") and f.endswith(".json")]
        )
    except OSError:
        return 1


def _last_benched_round() -> dict[str, int]:
    """name → latest round with a recorded sf0.1 timing. Two sources,
    max-merged: the cumulative ledger bench.py itself maintains
    (bench_coverage.json — needed because the driver's BENCH_r{N}
    stdout line truncates to the slowest headline entries and the
    full detail file is overwritten every run), and whatever the
    parsed BENCH_r*.json lines do contain."""
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for cov in (
        os.path.join(here, _COVERAGE_FILE),
        os.path.join(here, _OUT_DIR, _COVERAGE_FILE),
    ):
        try:
            with open(cov) as fh:
                for k, v in json.load(fh).items():
                    last[k] = max(last.get(k, 0), int(v))
        except (OSError, ValueError):
            pass
    for f in sorted(os.listdir(here)):
        if not (f.startswith("BENCH_r") and f.endswith(".json")):
            continue
        try:
            rnd = int(f[len("BENCH_r"):-len(".json")])
            with open(os.path.join(here, f)) as fh:
                parsed = (json.load(fh) or {}).get("parsed") or {}
        except (OSError, ValueError):
            continue
        for sect in ("queries", "rotation"):
            for name in parsed.get(sect) or {}:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _update_coverage(timed: list[str]) -> None:
    """Append this run's coverage to the UNTRACKED overlay (never the
    tracked snapshot — a bench run must leave `git status` clean)."""
    here = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(here, _OUT_DIR), exist_ok=True)
    path = os.path.join(here, _OUT_DIR, _COVERAGE_FILE)
    last = {}
    try:
        with open(path) as fh:
            last = json.load(fh)
    except (OSError, ValueError):
        pass
    rnd = _current_round()
    for name in timed:
        last[name] = max(int(last.get(name, 0)), rnd)
    with open(path, "w") as fh:
        json.dump(dict(sorted(last.items())), fh, indent=1)


def _calib_probe(spark, materialize) -> float:
    """One run of the fixed synthetic host-speed probe (see
    _host_calibration for why it exists and what it exercises)."""
    t0 = time.perf_counter()
    df = (
        spark.range(0, 120_000_000, 1, 32)
        .selectExpr(
            "xxhash64(id) AS h",
            "id % 9973 AS k",
            "sin(id * 1e-7) AS v",
        )
        .groupBy("k")
        .agg(
            {"h": "max", "v": "sum", "k": "count"},
        )
    )
    materialize(df)
    return time.perf_counter() - t0


def run_spread_stats(all_runs: dict[str, list[float]]) -> dict | None:
    """Contention fingerprint from the per-query raw runs (VERDICT
    r10 #1): per query, spread = max(runs)/min(runs) — two runs of
    the SAME query on an idle host differ only by JIT warmup
    (measured p90 ≈ 1.5 across the 96-query suite), while sustained
    external load hits runs unevenly and blows the spread up
    (driver's contended r10 run: p90 1.89, 9/96 queries > 2×,
    dedup_prefix_filter runs [15.2, 43.5, 21.6]). The burst calib
    probe canNOT see this — it slips into scheduler gaps while the
    long shuffle-heavy queries eat the full slowdown — so the spread
    is the statistic that makes a contended run self-identifying."""
    spreads = sorted(
        max(v) / min(v) for v in all_runs.values() if v and min(v) > 0
    )
    if not spreads:
        return None
    return {
        "p90": round(spreads[int(0.9 * (len(spreads) - 1))], 3),
        "frac_gt2": round(
            sum(1 for s in spreads if s > 2) / len(spreads), 3
        ),
        "max": round(spreads[-1], 3),
        "n": len(spreads),
    }


def _host_calibration(spark, materialize) -> float:
    """Fixed synthetic probe timed at bench start and stamped into the
    output as ``calib_sec`` — a host-speed fingerprint so BENCH_rN
    totals measured on different machines can be normalized
    (VERDICT r9 #3: the r9 +34% headline move was pure host noise and
    took forensic cross-referencing to adjudicate; with calib_sec the
    normalization is `value / calib_sec` vs the prior round's).

    Data-independent by construction: ``spark.range`` (no file I/O),
    pinned row count and partitioning, deterministic expressions —
    exercises the same resources as the suite (codegen'd hash + agg
    CPU, one shuffle exchange, 32-way parallelism). Min of two runs,
    like the headline queries (run 1 pays codegen/JIT)."""

    def probe() -> float:
        return _calib_probe(spark, materialize)

    # Min of FIVE runs, not two: measured on this host, the probe
    # keeps JIT-warming well past run 2 (1.088 → 0.794 → 0.713 →
    # 0.631 → 0.590 in one session) — an under-converged calib makes
    # the normalization rule ADD noise instead of removing it (one
    # r10 same-code rerun stamped 0.875 vs 0.576, which read as a
    # phantom code change). Five runs
    # cost ~4 s against a ~90 s suite.
    return round(min(probe() for _ in range(5)), 3)


def _tracked_ledger(sf_val) -> dict[str, float]:
    """name → seconds from the committed bench_detail.json ledger,
    empty when the ledger is missing or was recorded at a different
    SF (an sf0.01 iteration run must not compare against sf0.1
    numbers)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "bench_detail.json")) as fh:
            led = json.load(fh)
    except (OSError, ValueError):
        return {}
    if led.get("sf") != sf_val:
        return {}
    out: dict[str, float] = {}
    for sect in ("queries", "rotation"):
        for k, v in (led.get(sect) or {}).items():
            if isinstance(v, (int, float)):
                out[k] = float(v)
    return out


# Outlier re-run pass (VERDICT r12 #3): a sustained contention burst
# parked on ONE query for all of its runs corrupts that query's
# min-of-N and with it the headline total (BENCH_r12:
# rolling_hll_users_7d ran 63.1/55.0/22.1 s against a 0.79 s tracked
# ledger entry — one burst cost the headline 20 s and the round its
# adjudicable perf signal). After the main suite, any headline query
# whose min exceeds 3× its tracked-ledger entry (and by >0.5 s
# absolute, so sub-second jitter never triggers) gets one more run;
# the overall min is kept and the pass is stamped into the output.
# 2.0, down from the initial 3.0 (VERDICT r13 #7): the r13 run's
# dedup_minhash_lsh burst sat at 1.77x its ledger entry — under the
# 3x trigger — while the tracked ledger's own idle-host run spread is
# p90 ~1.5, so 2x separates real bursts from JIT/jitter with margin.
# A false trigger only costs one extra (honest, full) run of that
# query; the min is never corrupted by rerunning.
_OUTLIER_FACTOR = 2.0
_OUTLIER_MIN_EXCESS_S = 0.5
_OUTLIER_MAX_RERUNS = 8


def select_outliers(
    timings: dict[str, float | None], ledger: dict[str, float]
) -> list[tuple[str, float]]:
    """(name, recorded_min) pairs that warrant one more run, worst
    excess first, capped at _OUTLIER_MAX_RERUNS. Ledger entries under
    50 ms are ignored — a 3× ratio on those is pure noise."""
    return sorted(
        (
            (name, t)
            for name, t in timings.items()
            if t is not None
            and name in ledger
            and ledger[name] >= 0.05
            and t > _OUTLIER_FACTOR * ledger[name]
            and t - ledger[name] > _OUTLIER_MIN_EXCESS_S
        ),
        key=lambda kv: ledger[kv[0]] - kv[1],
    )[:_OUTLIER_MAX_RERUNS]


def rotation_queries() -> tuple[list[str], int]:
    extras = sorted(set(REGISTRY) - set(HEADLINE))
    if not extras:
        return [], 0
    last = _last_benched_round()
    ordered = sorted(extras, key=lambda n: (last.get(n, -1), n))
    never = sum(1 for n in extras if n not in last)
    return ordered[:ROTATION_SLICE], never


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bio-lakehouse-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> None:
        # noop sink: full evaluation of every column, zero driver
        # collection, nothing for Catalyst to prune (count() pruned
        # the work nodes from 17/36 headline plans — never again).
        df.write.format("noop").mode("overwrite").save()

    # JVM + reader warmup (excluded from timings).
    materialize(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))

    # Host-speed fingerprint (see _host_calibration): recorded in both
    # the detail file and the stdout line for cross-round comparison.
    calib_sec = _host_calibration(spark, materialize)

    # Fixture prebuild (excluded from timings): several queries
    # materialize persisted fixtures on first call (LSH band index,
    # CSV variants, partitioned sinks) as eager driver-side writes
    # *inside the query function*, before the returned DataFrame ever
    # runs. Calling every headline fn once and discarding the result
    # builds all fixtures now, so run1 measures the query, not fixture
    # I/O (round-3 drift postmortem: fixture builds inside the first
    # timed run inflated it unpredictably).
    rotation, rotation_start = rotation_queries()
    errors: dict[str, str] = {}
    for name in HEADLINE + rotation:
        try:
            REGISTRY[name].fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — recorded in timed loop
            errors[f"{name}:prebuild"] = f"{type(exc).__name__}: {exc}"[:300]

    # Mid-suite calib re-probes (VERDICT r10 #1c): the start-of-run
    # calib is a single snapshot — sustained contention that arrives
    # AFTER it produces a calib_sec that under-reads the slowdown the
    # suite actually experienced. One single-run probe every
    # _CALIB_EVERY headline queries (JIT already warm from the
    # min-of-5 warmup) records the host-state timeline for ~3 s of
    # total overhead against a ~90 s suite.
    suite_t0 = time.perf_counter()
    calib_timeline: list[dict] = []

    def timeline_probe(n_done: int) -> None:
        # Min-of-TWO, not a single run (ADVICE r11): calib_drift
        # compares these against the min-of-5 start floor, so one
        # GC/noise-spiked single probe >=1.5x that floor used to flag
        # the whole run contended_host on its own. A second sample
        # suppresses one-off spikes while still seeing SUSTAINED load
        # (which hits both runs); costs ~0.6 s per probe point.
        calib_timeline.append({
            "after_n": n_done,
            "t_offset": round(time.perf_counter() - suite_t0, 1),
            "calib_sec": round(
                min(_calib_probe(spark, materialize) for _ in range(2)),
                3,
            ),
        })

    timings: dict[str, float | None] = {}
    all_runs: dict[str, list[float]] = {}
    for i, name in enumerate(HEADLINE):
        if i and i % _CALIB_EVERY == 0:
            timeline_probe(i)
        fn = REGISTRY[name].fn
        # Failure isolation: one broken query must never zero out the
        # round's whole perf signal (BENCH_r02 lost all 36 timings to a
        # single AnalysisException). Record null + the error, move on.
        try:
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            # A >3× spread between two runs of the SAME query means an
            # external stall hit one of them — take a tie-breaking third
            # run so a stall spanning both can't pollute the metric.
            if max(runs) > 3 * min(runs) or min(runs) > 3.0:
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 3)
            all_runs[name] = [round(r, 3) for r in runs]
        except Exception as exc:  # noqa: BLE001 — always emit the line
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    timeline_probe(len(HEADLINE))  # closing bracket of the timeline

    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Outlier re-run pass (see _OUTLIER_* above): absorb a contention
    # burst that sat on one query's every run. run_spread/all_runs
    # keep ONLY the main-pass runs — they stay the honest contention
    # fingerprint; the rerun and what it absorbed are stamped
    # separately so a reader can see both.
    ledger = _tracked_ledger(sf_val)
    outliers = select_outliers(timings, ledger)
    outlier_stamp: dict | None = None
    if outliers:
        outlier_stamp = {"n": len(outliers), "queries": {}}
        for name, before in outliers:
            try:
                t0 = time.perf_counter()
                materialize(REGISTRY[name].fn(spark, sf_dir))
                rerun = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — keep the original
                errors[f"{name}:rerun"] = (
                    f"{type(exc).__name__}: {exc}"[:300]
                )
                continue
            timings[name] = min(before, rerun)
            outlier_stamp["queries"][name] = {
                "before": before,
                "ledger": ledger[name],
                "rerun": rerun,
            }
        outlier_stamp["absorbed_sec"] = round(
            sum(
                q["before"] - min(q["before"], q["rerun"])
                for q in outlier_stamp["queries"].values()
            ),
            3,
        )

    # Rotation slice: single timed run each (trend datapoint, not a
    # headline-grade steady-state number — kept OUT of `value`).
    rotation_timings: dict[str, float | None] = {}
    for name in rotation:
        try:
            t0 = time.perf_counter()
            materialize(REGISTRY[name].fn(spark, sf_dir))
            rotation_timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — always emit the line
            rotation_timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    # Bio-parity gold rebuild (BASELINE.md: the reference's daily
    # drop-and-CTAS of 3 gold tables takes ~45 s on Glue+Athena at
    # ~2k rows). Ours: silver parquet → 3 gold tables written, on the
    # 150-day fixture.
    gold_rebuild_s = None
    try:
        from bio_lakehouse_spark.bio.fixtures import generate_bronze
        from bio_lakehouse_spark.bio.gold import build_gold
        from bio_lakehouse_spark.bio.silver import run_silver
        from pathlib import Path

        bio_root = Path(__file__).parent / ".fixtures" / "bio"
        generate_bronze(bio_root / "bronze")
        if not (bio_root / "silver" / "mfp_daily_nutrition").exists():
            run_silver(spark, str(bio_root / "bronze"),
                       str(bio_root / "silver"))
        t0 = time.perf_counter()
        build_gold(spark, str(bio_root / "silver"),
                   gold_root=str(bio_root / "gold_bench"))
        gold_rebuild_s = round(time.perf_counter() - t0, 3)
    except Exception:  # noqa: BLE001 — bench must still emit its line
        pass

    # Full per-query detail (all timings + raw runs + errors) goes to a
    # sidecar file — round 4's single stdout line grew past the
    # driver's 2000-char tail buffer and BENCH_r04 recorded
    # "parsed": null. The printed line is kept compact and LAST.
    detail = {
        "metric": "suite_headline_total",
        "value": round(sum(v for v in timings.values() if v is not None), 3),
        "unit": "sec",
        "sf": sf_val,
        "calib_sec": calib_sec,
        "queries": timings,
        # Per-query raw runs (run1 = first timed execution of the
        # shape, pays whole-stage-codegen classgen + JIT; later runs =
        # steady state). Makes JIT-vs-plan regressions diagnosable.
        "runs": all_runs,
        # Contention fingerprint (VERDICT r10 #1): intra-query run
        # spread distribution + the calib-probe timeline across the
        # suite: they show whether the host was loaded during the
        # run.
        "run_spread": run_spread_stats(all_runs),
        "calib_timeline": calib_timeline,
        # Subset provenance: headline membership is pinned; rotation
        # is the round's slice of the non-headline registry.
        "subset": {
            "headline": "pinned-v6",
            "n_headline": len(HEADLINE),
            # coverage-first rotation (r8): count of never-recorded
            # queries remaining BEFORE this run's slice
            "rotation_never_benched_before": rotation_start,
            "rotation_slice": len(rotation),
        },
        "rotation": rotation_timings,
        "rotation_total": round(
            sum(v for v in rotation_timings.values() if v is not None), 3
        ),
    }
    # Calib drift (third contention signal): how much the host-speed
    # probe swung ACROSS THE SUITE — computed over the mid-suite
    # timeline probes only (ADVICE r11, completed r12). The start
    # calib_sec is excluded: it is the min of five COLD-ish runs and
    # sits systematically ~1.5× above the fully-warm timeline floor
    # (measured 0.718 vs 0.441–0.488 on an otherwise spotless run),
    # so mixing it in flagged clean runs as contended. calib_sec
    # remains the cross-machine normalization anchor in the output;
    # the timeline probes are the mutually-comparable drift samples.
    # Computed BEFORE the detail write so the file carries it too —
    # one r11 run stamped drift 6.9 on stdout while the already-
    # written detail file had none.
    calibs = [p["calib_sec"] for p in calib_timeline]
    if len(calibs) >= 2 and min(calibs) > 0:
        detail["calib_drift"] = round(max(calibs) / min(calibs), 3)
        # Anchor reliability (r12): how far
        # the cold start calib sits above the warm timeline floor —
        # ~1.6x is the structural JIT offset; >=2.5 means the start
        # window was contended and the normalization anchor is
        # corrupt even if the suite body ran clean.
        if calib_sec > 0:
            detail["calib_anchor"] = round(calib_sec / min(calibs), 3)
    if outlier_stamp is not None:
        detail["outlier_reruns"] = outlier_stamp
    if errors:
        detail["errors"] = errors
    if gold_rebuild_s is not None:
        detail["gold_rebuild_3_tables_sec"] = gold_rebuild_s
    # Detail goes to --out PATH when given, else to the untracked
    # bench_out/detail_r{N}.json — never in-place over the tracked
    # bench_detail.json ledger (the builder updates that deliberately
    # via --out when committing a round). VERDICT r8 #4.
    here = os.path.dirname(os.path.abspath(__file__))
    if "--out" in sys.argv:
        detail_path = sys.argv[sys.argv.index("--out") + 1]
        if not os.path.isabs(detail_path):
            detail_path = os.path.join(here, detail_path)
    else:
        os.makedirs(os.path.join(here, _OUT_DIR), exist_ok=True)
        detail_path = os.path.join(
            here, _OUT_DIR, f"detail_r{_current_round()}.json"
        )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    # Coverage means "has a recorded sf0.1 timing" — a quick sf0.01
    # iteration run must not advance the rotation ledger.
    if sf_val == 0.1:
        _update_coverage(
            [n for n, t in timings.items() if t is not None]
            + [n for n, t in rotation_timings.items() if t is not None]
        )

    out = {
        "metric": "suite_headline_total",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf_val,
        "calib_sec": calib_sec,
        "n_queries": len(timings),
        "detail_file": os.path.relpath(detail_path, here),
    }
    # Flattened contention fingerprint in the stdout line itself, so a
    # BENCH_r{N}.json is self-adjudicable even if its detail file is
    # lost (the driver archives only the stdout tail).
    if detail["run_spread"]:
        out["run_spread_p90"] = detail["run_spread"]["p90"]
        out["run_spread_frac_gt2"] = detail["run_spread"]["frac_gt2"]
    # Third signal, already stamped into the detail file above: a
    # same-code r11 control run stamped start-calib 2.341 vs the
    # usual ~0.57 — a >1.5× swing marks the window contended alone.
    if "calib_drift" in detail:
        out["calib_drift"] = detail["calib_drift"]
    if "calib_anchor" in detail:
        out["calib_anchor"] = detail["calib_anchor"]
    if outlier_stamp is not None:
        out["outlier_reruns"] = outlier_stamp["n"]
        out["outlier_absorbed_sec"] = outlier_stamp["absorbed_sec"]
    if errors:
        out["n_errors"] = len(errors)
    if gold_rebuild_s is not None:
        out["gold_rebuild_3_tables_sec"] = gold_rebuild_s
    # Include as many per-query timings as fit: slowest first (the
    # informative tail), hard cap the serialized line at 1800 bytes so
    # the driver's 2000-char stdout tail always contains complete JSON.
    ranked = sorted(
        ((n, t) for n, t in timings.items() if t is not None),
        key=lambda kv: -kv[1],
    )
    # Always present even if every query errored or none fit the byte
    # budget — a consumer must be able to tell "none fit" from "key
    # missing".
    shown: dict[str, float] = {}
    out["queries"] = shown
    out["queries_shown"] = 0
    for name, t in ranked:
        shown[name] = t
        out["queries"] = shown
        out["queries_shown"] = len(shown)
        if len(json.dumps(out)) > 1800:
            del shown[name]
            out["queries"] = shown
            out["queries_shown"] = len(shown)
            break
    print(json.dumps(out))


if __name__ == "__main__":
    main()
