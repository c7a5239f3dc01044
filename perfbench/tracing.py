"""Spans around calls into the package, and the Spark work under them.

A :class:`Tracer` wraps public functions of the package from the
outside (module attributes are swapped for a timing wrapper, and put
back by :meth:`Tracer.restore`). Each call opens a span with a name, a
start and end time, its parent span and the op it belongs to. While a
span is open, every Spark job it submits carries the span's id as its
job group, so the jobs can be attributed afterwards:

- job counts per group come from the live ``statusTracker``;
- job intervals, stages, tasks and task metrics come from the Spark
  event log the benchmark turns on for a traced run.

Spans stay in memory until :func:`span_report` joins them with the
event log at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records nested spans; inactive tracers cost one attribute test."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def op(self, op_id: str, name: str):
        """The root span of one op; nested spans inherit its id."""
        prev, self._op = self._op, op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield attrs
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner, attr: str, name, on_call=None) -> None:
        """Swap ``owner.attr`` for a wrapper that opens a span.

        ``name`` is a span name or a function of the call's arguments;
        ``on_call(rec, args, kwargs, result)`` may add attributes."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if on_call is not None and self.active:
                    on_call(rec, args, kwargs, out)
                return out

        self._patched.append((owner, attr, orig))
        if isinstance(owner, dict):
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def job_counts(self) -> dict[str, int]:
        """Jobs per span group, from the live status tracker."""
        _drain_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        return {
            s["group"]: len(tracker.getJobIdsForGroup(s["group"]))
            for s in self.spans
        }


def _drain_listener_bus(sc) -> None:
    """Let the status tracker see every job event already posted."""
    from py4j.protocol import Py4JError

    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:  # a bus without the method: give it a moment
        time.sleep(0.5)


# -- event log ---------------------------------------------------------------
_ZERO = {
    "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    "python_bytes": 0, "records_read": 0, "records_written": 0,
    "bytes_written": 0,
}
_PY_SENT = "data sent to Python workers"


def read_event_log(log_dir: str | Path) -> dict[int, dict]:
    """Per-job group, interval and summed task metrics from the one
    event log under ``log_dir``."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None, **_ZERO,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job is not None:
                    jobs[job]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is not None:
                    _add_task(jobs[job], ev)
    return jobs


def _add_task(job: dict, ev: dict) -> None:
    job["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    rd = tm.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += (
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    )
    job["shuffle_write_bytes"] += (
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    )
    job["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    out = tm.get("Output Metrics") or {}
    job["records_written"] += out.get("Records Written", 0)
    job["bytes_written"] += out.get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == _PY_SENT:
            job["python_bytes"] += int(acc.get("Update") or 0)


# -- joining spans and jobs --------------------------------------------------
def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_report(spans: list[dict], jobs: dict[int, dict],
                tracker_jobs: dict[str, int]) -> list[dict]:
    """Each span with its wall, self and Spark figures, subtree-inclusive.

    ``self_s`` is the span's time minus its children's; ``gap_s`` is
    the span's time that no job of its subtree covers."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["group"] is not None and j["end"] is not None:
            by_group.setdefault(j["group"], []).append(j)
    out: list[dict] = []
    for s in spans:
        sub, todo = [], [s["id"]]
        while todo:
            sid = todo.pop()
            sub.append(sid)
            todo.extend(children.get(sid, ()))
        sub_jobs = [j for sid in sub for j in by_group.get(spans[sid]["group"], ())]
        wall = s["end"] - s["start"]
        kids = sum(spans[c]["end"] - spans[c]["start"]
                   for c in children.get(s["id"], ()))
        covered = _covered([(j["start"], j["end"]) for j in sub_jobs],
                           s["start"], s["end"])
        rec = {k: v for k, v in s.items() if k != "group"}
        rec.update(
            wall_s=wall, self_s=wall - kids, gap_s=wall - covered,
            jobs=sum(tracker_jobs.get(spans[sid]["group"], 0) for sid in sub),
            log_jobs=len(sub_jobs),
        )
        for k in _ZERO:
            rec[k] = sum(j[k] for j in sub_jobs)
        out.append(rec)
    return out
