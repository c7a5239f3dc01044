"""Per-stage profile of one or more registered queries via the Spark
event log — the guide-§1 empirical loop for a sandbox with the UI off.

For each query: run once to warm (codegen/JIT), then run the timed
pass, then parse the event log and print every job/stage of the timed
pass with task counts and wall-clock — the "which stage is slow, and
how many tasks did it actually get" data the Stages tab would show.

    python tools/stage_profile.py dedup_minhash_lsh [--sf DIR] [--cpus N]

``--cpus`` defaults to $SPARK_GRAFT_CPUS, else the host's usable cores.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bio_lakehouse_spark.session import get_spark  # noqa: E402
from bio_lakehouse_spark.suite import REGISTRY  # noqa: E402

EVDIR = "/tmp/spark-events-stage-profile"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    ap.add_argument("--warm", type=int, default=1)
    args = ap.parse_args()

    import shutil
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        "stage-profile",
        master=f"local[{args.cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{EVDIR}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    materialize(spark.read.parquet(f"{args.sf}/lineitem.parquet"))

    for name in args.queries:
        fn = REGISTRY[name].fn
        fn(spark, args.sf)  # fixture prebuild
        for _ in range(args.warm):
            materialize(fn(spark, args.sf))
        spark.sparkContext.setJobDescription(f"TIMED:{name}")
        t0 = time.perf_counter()
        materialize(fn(spark, args.sf))
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: timed pass {wall:.3f}s ===")

    spark.stop()  # flush the event log

    logs = sorted(glob.glob(f"{EVDIR}/*"))
    if not logs:
        sys.exit(f"no event log under {EVDIR}")
    ev = logs[-1]
    if os.path.isdir(ev):  # rolling eventlog_v2 layout: events_* inside
        parts = sorted(glob.glob(f"{ev}/events_*"))
    else:
        parts = [ev]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    if True:
        for line in lines():
            try:
                e = json.loads(line)
            except ValueError:
                continue
            t = e.get("Event")
            if t == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "desc": (e.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": e.get("Submission Time"),
                    "stages": [
                        s["Stage ID"] for s in e.get("Stage Infos", [])
                    ],
                }
            elif t == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = e.get("Completion Time")
            elif t == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", "")[:70],
                    "ntask": si.get("Number of Tasks"),
                    "ms": (si.get("Completion Time") or 0)
                    - (si.get("Submission Time") or 0),
                }
    for jid in sorted(jobs):
        j = jobs[jid]
        if not j["desc"].startswith("TIMED:"):
            continue
        dur = ((j.get("t1") or 0) - (j.get("t0") or 0)) / 1000.0
        print(f"\njob {jid} [{j['desc']}] {dur:.3f}s")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if s is None:
                print(f"  stage {sid:4d} SKIPPED")
            else:
                print(
                    f"  stage {sid:4d} {s['ms']:6d}ms {s['ntask']:4d} tasks"
                    f"  {s['name']}"
                )


if __name__ == "__main__":
    main()
