"""Compare benchmark records of two commits measured on one host.

    python3 perfbench/compare.py BASE.json... -- NEW.json...

Records are the files ``run.py`` saves under ``.perfbench/results/``.
The comparison is refused (exit 2) unless every record carries the same
host fingerprint: core count, MemTotal, CPU model, and Spark, Java and
Python versions. It is refused too when the two sides' median host
probe (a fixed loop timed at the start and end of every run) differs by
more than the largest bound: the host itself ran at another speed, so
the times would not say what the code did. Otherwise it prints, per
workload and end-to-end metric, each side's median and quartiles, the
change of the medians, and whether it exceeds the metric's bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

FINGERPRINT = ("nproc", "mem_total_kb", "cpu", "spark", "java", "python")


def fingerprint(record: dict) -> tuple:
    return tuple(record["host"].get(k) for k in FINGERPRINT)


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    sides = {
        "base": [json.loads(Path(p).read_text()) for p in argv[:cut]],
        "new": [json.loads(Path(p).read_text()) for p in argv[cut + 1:]],
    }
    if not sides["base"] or not sides["new"]:
        print("perfbench compare: each side needs at least one record",
              file=sys.stderr)
        return 2
    prints = {fingerprint(r) for recs in sides.values() for r in recs}
    if len(prints) != 1:
        print("perfbench compare: refusing, host fingerprints differ:",
              file=sys.stderr)
        for fp in sorted(prints, key=str):
            print("  " + json.dumps(dict(zip(FINGERPRINT, fp))), file=sys.stderr)
        return 2
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    probe = {k: statistics.median(r["end_to_end"]["host_probe_ms"] for r in v)
             for k, v in sides.items()}
    if abs(probe["new"] / probe["base"] - 1) > max(bounds.values()):
        print(f"perfbench compare: refusing, host probe {probe['base']:.1f} ms"
              f" (base) vs {probe['new']:.1f} ms (new): the host's speed "
              "changed between the two sides", file=sys.stderr)
        return 2
    workloads = sorted({r["workload"] for recs in sides.values() for r in recs})
    print(f"host {json.dumps(dict(zip(FINGERPRINT, prints.pop())))}")
    for wl in workloads:
        runs = {k: [r for r in v if r["workload"] == wl and not r["trace"]]
                for k, v in sides.items()}
        if not runs["base"] or not runs["new"]:
            continue
        print(f"\n{wl}  (runs: base {len(runs['base'])}, new {len(runs['new'])})")
        for name in runs["base"][0]["end_to_end"]:
            vals = {k: [r["end_to_end"][name] for r in v
                        if isinstance(r["end_to_end"].get(name), (int, float))]
                    for k, v in runs.items()}
            if not vals["base"] or not vals["new"]:
                continue
            b, n = _quartiles(vals["base"]), _quartiles(vals["new"])
            change = n[1] / b[1] - 1 if b[1] else float("nan")
            flag = ""
            if name in bounds and change > bounds[name]:
                flag = f"  WORSE than bound {bounds[name]:.0%}"
            print(f"  {name:18s} base {b[1]:12.4f} [{b[0]:.4f}, {b[2]:.4f}]"
                  f"  new {n[1]:12.4f} [{n[0]:.4f}, {n[2]:.4f}]"
                  f"  {change:+.1%}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
