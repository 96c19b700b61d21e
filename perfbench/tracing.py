"""Spans around the benchmark's calls into each layer, and the Spark
event-log join that attributes jobs, tasks and bytes to them.

Off by default: ``span`` is then a no-op. ``enable(sc)`` turns it on
for the calling process. A span records (id, name, start, end, parent,
request id) in memory and sets the Spark job group to its id, so every
job the span triggers carries it in the event log. Spans are only read
after the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

_sc = None
_on = threading.local()  # per-thread switch, so a run can mix traced and untraced requests
_local = threading.local()
_ids = itertools.count(1)
_lock = threading.Lock()
SPANS: list[dict] = []


def enable(sc) -> None:
    global _sc
    _sc = sc


def set_active(flag: bool) -> None:
    _on.flag = flag


def active() -> bool:
    return _sc is not None and getattr(_on, "flag", True)


def request(rid) -> None:
    """Tag the spans the calling thread opens from now on with ``rid``."""
    _local.rid = rid


@contextlib.contextmanager
def span(name: str):
    if not active():
        yield
        return
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    sid = f"span-{next(_ids)}"
    parent = stack[-1] if stack else None
    rec = {"id": sid, "name": name, "parent": parent, "rid": getattr(_local, "rid", None),
           "start": time.time(), "end": None}
    stack.append(sid)
    _sc.setJobGroup(sid, name, False)
    try:
        yield
    finally:
        rec["end"] = time.time()
        stack.pop()
        if stack:
            _sc.setJobGroup(stack[-1], name, False)
        else:
            _sc.setLocalProperty("spark.jobGroup.id", None)
            _sc.setLocalProperty("spark.job.description", None)
        with _lock:
            SPANS.append(rec)


def wrap(module, attr: str, name: str) -> None:
    """Rebind ``module.attr`` so each call runs inside a span."""
    fn = getattr(module, attr)

    def traced(*a, **kw):
        with span(name):
            return fn(*a, **kw)

    traced.__wrapped__ = fn
    setattr(module, attr, traced)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> dict:
    """Jobs, tasks and SQL file counts from the (finished) event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_files: dict[int, int] = defaultdict(int)
    file_accums: set[int] = set()
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "exec": int(props["spark.sql.execution.id"])
                        if props.get("spark.sql.execution.id") else None,
                        "start": ev["Submission Time"] / 1000.0, "end": None,
                        "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                        "input_bytes": 0, "output_bytes": 0, "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    j["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    j["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _file_metric_ids(ev.get("sparkPlanInfo") or {}, file_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev.get("accumUpdates", []):
                        if acc in file_accums:
                            exec_files[ev["executionId"]] += int(val)
    return {"jobs": jobs, "exec_files": exec_files}


def _file_metric_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _file_metric_ids(child, out)


def attribute(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span, over the jobs of the span and all its descendants:
    jobs, tasks, executor time, bytes, files read (each SQL execution
    counted once) and driver time = span wall time not covered by any
    of those jobs."""
    by_group = defaultdict(list)
    for j in log["jobs"].values():
        if j["group"]:
            by_group[j["group"]].append(j)
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append(s["id"])

    def jobs_under(sid):
        out = list(by_group.get(sid, []))
        for k in kids[sid]:
            out += jobs_under(k)
        return out

    out = {}
    for s in spans:
        js = jobs_under(s["id"])
        execs = {j["exec"] for j in js if j["exec"] is not None}
        covered = _union([(max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
                          for j in js])
        wall = s["end"] - s["start"]
        out[s["id"]] = {
            "wall_s": wall, "driver_s": max(0.0, wall - covered), "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js), "cpu_s": sum(j["cpu_s"] for j in js),
            "input_bytes": sum(j["input_bytes"] for j in js),
            "output_bytes": sum(j["output_bytes"] for j in js),
            "files_read": sum(log["exec_files"].get(e, 0) for e in execs),
        }
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span time minus the part covered by its child spans."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _union(
        [(max(a, s["start"]), min(b, s["end"])) for a, b in kids[s["id"]]]) for s in spans}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
