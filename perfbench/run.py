"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts a ``local[nproc]`` session
through ``bio_lakehouse_spark.session`` with a driver heap sized from
MemTotal, builds the workload's inputs from the seed, runs one cold
pass over the workload's fixed op sequence, then warm passes until
``--seconds`` have gone by, with one client in a closed loop. Every op's
output is checked after its timed span (a query's row count and hash
are observed on its timed write). Everything the run writes goes under
``.perfbench/``, except the shuffle and spill files the package's
session keeps under ``/dev/shm`` in local mode, which Spark deletes when
it stops.

Output: one report line (host fingerprint, every end-to-end figure of
the workload with its unit and, when traced, every per-layer figure),
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}`` with the metrics ``BENCHMARK.json`` names for the mode:
end-to-end with ``--trace 0``, per-layer with ``--trace 1``. The full
record, spans included, is saved under ``.perfbench/results/``.

``--trace 1`` wraps package functions in spans, tags their Spark jobs
and turns on a Spark event log. Its first pass and every second warm
pass are traced, each after an untraced one; traced minus untraced
median pass time is the tracing overhead (less whatever warm-up the
later pass still gains).
``--sf`` and ``--requests`` shrink the inputs for the self-test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Inputs are generated this many times and setup_s takes the median,
# so one slow write does not decide the figure; every time is recorded.
SETUP_REPEATS = 3


def host_fingerprint() -> dict:
    """What must match before two results may be compared."""
    info = {}
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            key, _, rest = line.partition(":")
            info[key] = rest.split()[0]
    cpu = ""
    with open("/proc/cpuinfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": int(info["MemTotal"]),
        "cpu": cpu,
        "python": platform.python_version(),
    }


def host_probe_ms() -> float:
    """Median time of a fixed single-threaded loop: how fast the host
    runs at the moment, so records taken at different speeds are not
    compared as if the code had changed."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def driver_heap(mem_total_kb: int) -> str:
    """A quarter of MemTotal, in whole GiB: room for the Python side
    and the page cache on a shared host."""
    return f"{max(1, mem_total_kb // (4 * 1024 * 1024))}g"


def configure_env(work: Path, host: dict) -> None:
    """Environment the session and its Python workers inherit."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_heap(host["mem_total_kb"])
    os.environ["TMPDIR"] = str(work / "tmp")
    # Every JVM (the launcher too) keeps its temp files in the work dir
    # and writes no hsperfdata file to /tmp.
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}".strip()
    )
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(work: Path, nproc: int, trace: bool):
    from bio_lakehouse_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # Keep every job in the status tracker for per-span counts.
            "spark.ui.retainedJobs": "1000000",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_memory_mb(spark) -> dict:
    """Peak resident memory of the driver JVM and of this process, and
    the JVM heap's peak use (summed over its pools)."""
    out = {}
    jvm = spark._jvm
    pids = {"jvm": jvm.java.lang.ProcessHandle.current().pid(),
            "python": os.getpid()}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            out[name] = next(int(line.split()[1]) for line in fh
                             if line.startswith("VmHWM:")) / 1024
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    out["jvm_heap_peak"] = sum(
        p.getPeakUsage().getUsed() for p in pools
        if p.getType() == jvm.java.lang.management.MemoryType.HEAP
    ) / 2**20
    return out


def run_pass(wl, tracer, traced: bool, label: str) -> tuple[float, list[dict]]:
    """Run the op sequence once; return its wall time and op results."""
    ops = wl.ops()
    tracer.active = traced
    results = []
    t0 = time.perf_counter()
    for i, (op, fn) in enumerate(ops):
        start = time.perf_counter()
        out = err = None
        try:
            with tracer.op(f"{label}:{i}", f"op.{op}"):
                out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            err = f"{type(exc).__name__}: {exc}"[:500]
        end = time.perf_counter()
        results.append({"op": op, "s": end - start, "start": start,
                        "end": end, "out": out, "error": err})
    wall = time.perf_counter() - t0
    tracer.active = False
    try:
        wl.check(results)
    except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
        print(f"perfbench: output check raised {exc!r}", file=sys.stderr)
        for r in results:
            r.setdefault("ok", False)
    return wall, results


def unit_of(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_pct", "_ratio", "_rate", "_amp")):
        return "%" if name.endswith("_pct") else "ratio"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def _median_dicts(dicts: list[dict]) -> dict:
    out = {}
    for key in dicts[0]:
        vals = [d[key] for d in dicts if d.get(key) is not None]
        out[key] = statistics.median(vals) if vals else None
    return out


def per_layer(wl, spans: list[dict], cold: list[dict], warm: list[tuple],
              session_s: float, overhead_s: float) -> tuple[dict, dict]:
    """Warm (median over traced warm passes) and cold layer figures."""
    from perfbench.workloads import Spans, common_layers

    def of_pass(label, results):
        sp = Spans([s for s in spans if s["op"].split(":")[0] == label])
        return {**common_layers(sp), **wl.layers(sp, results)}

    warm_layers = _median_dicts([of_pass(lbl, res) for lbl, _, res in warm])
    warm_layers.update({
        "session.start_s": session_s,
        "trace.overhead_s": overhead_s,
        "trace.pass_s": statistics.median(w for _, w, _ in warm),
    })
    return warm_layers, of_pass("p0", cold)


def measure(args, host: dict, work: Path) -> dict:
    from perfbench.tracing import Tracer, read_event_log, span_report
    from perfbench.workloads import WORKLOADS, Context

    trace = bool(args.trace)
    probe = [host_probe_ms()]
    t0 = time.perf_counter()
    spark = start_session(work, host["nproc"], trace)
    session_s = time.perf_counter() - t0
    host["spark"] = spark.version
    host["java"] = spark._jvm.java.lang.System.getProperty("java.version")
    tracer = Tracer(spark.sparkContext)
    try:
        t1 = time.perf_counter()
        ctx = Context(spark, tracer, ROOT, work, args.seed, args.sf,
                      args.requests)
        wl = WORKLOADS[args.workload](ctx)
        for module in wl.modules:
            importlib.import_module(module)
        imports_s = time.perf_counter() - t1
        gen = []
        for _ in range(SETUP_REPEATS):
            t2 = time.perf_counter()
            wl.setup()
            gen.append(time.perf_counter() - t2)
        setup_s = session_s + imports_s + statistics.median(gen)
        if trace:
            wl.instrument(tracer)
        first_s, first = run_pass(wl, tracer, trace, "p0")
        passes: list[tuple[str, bool, float, list]] = []
        t_loop = time.perf_counter()
        while True:
            traced = trace and len(passes) % 2 == 1
            label = f"p{len(passes) + 1}"
            wall, res = run_pass(wl, tracer, traced, label)
            passes.append((label, traced, wall, res))
            # A traced run ends on a traced pass, so it has as many
            # traced warm passes as untraced ones.
            if time.perf_counter() - t_loop >= args.seconds and (
                not trace or len(passes) % 2 == 0
            ):
                break
        memory = peak_memory_mb(spark)
        probe.append(host_probe_ms())
        try:
            wl.final_check(passes[-1][3])
        except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
            print(f"perfbench: final check raised {exc!r}", file=sys.stderr)
            for r in passes[-1][3]:
                r["ok"] = False
        tracker_jobs = tracer.job_counts() if trace else {}
    finally:
        stop_session(spark)
        tracer.restore()

    untraced = [(lbl, w, r) for lbl, t, w, r in passes if not t]
    traced_warm = [(lbl, w, r) for lbl, t, w, r in passes if t]
    every_op = first + [r for *_, res in passes for r in res]
    failed = sum(1 for r in every_op if not r.get("ok"))
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": first_s,
        "pass_s": statistics.median(w for _, w, _ in untraced),
        "peak_rss_mb": memory["jvm"] + memory["python"],
        "jvm_heap_peak_mb": memory["jvm_heap_peak"],
        "error_rate": failed / len(every_op),
        "host_probe_ms": statistics.median(probe),
    }
    e2e.update(wl.report([r for _, _, r in untraced]))
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": args.sf, "requests": args.requests,
        "host": host, "attempted": len(every_op), "failed": failed,
        "end_to_end": e2e, "checks": wl.checks(),
        "setup": {"session_s": session_s, "imports_s": imports_s,
                  "inputs_s": gen},
        "peak_memory_mb": memory, "host_probe_ms": probe,
        "passes": [
            {"label": lbl, "traced": t, "wall_s": w,
             "ops": [{k: r.get(k) for k in ("op", "s", "ok", "error")}
                     for r in res]}
            for lbl, t, w, res in [("p0", trace, first_s, first), *passes]
        ],
    }
    if trace:
        spans = span_report(tracer.spans, read_event_log(work / "events"),
                            tracker_jobs)
        overhead = (statistics.median(w for _, w, _ in traced_warm)
                    - e2e["pass_s"])
        warm, cold = per_layer(wl, spans, first, traced_warm, session_s,
                               overhead)
        record.update(per_layer=warm, per_layer_cold=cold, spans=spans)
    return record


def _metric_block(values: dict, names: list[dict]) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the query workloads' tables")
    ap.add_argument("--requests", type=int, default=8,
                    help="requests per pass of medallion_refresh")
    args = ap.parse_args(argv)

    if not (ROOT / "bio_lakehouse_spark" / "__init__.py").is_file():
        print(f"perfbench: no bio_lakehouse_spark package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = host_fingerprint()
    work = ROOT / ".perfbench" / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    configure_env(work, host)
    try:
        record = measure(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                     f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    out.write_text(json.dumps(record, indent=1, default=str))

    e2e = record["end_to_end"]
    summary = {
        "workload": args.workload, "seed": args.seed, "host": record["host"],
        "end_to_end": {k: {"value": v, "unit": unit_of(k)}
                       for k, v in e2e.items()},
        "record": str(out.relative_to(ROOT)),
    }
    if args.trace:
        summary["per_layer"] = {k: {"value": v, "unit": unit_of(k)}
                                for k, v in record["per_layer"].items()}
        metrics = _metric_block(record["per_layer"], spec["per_layer"])
    else:
        metrics = _metric_block(e2e, spec["end_to_end"])
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
