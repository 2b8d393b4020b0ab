"""Spans around the benchmark's calls into the engine, and their Spark cost.

A span is one public call the benchmark makes (or a group of them): name,
start, end, parent and run id, kept in memory and written when the run ends.
In a traced run every span also sets a Spark job group, and Spark's own JSON
event log attributes each job, stage and task to the span that started it.
``attribute`` folds the event log into one row of Spark counters per span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: Python SQL metric names (Spark 4.1) → short keys
_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
    "number of output rows": "rows",
}
#: plan nodes whose work is a pandas UDF running in a Python worker
PY_NODES = ("MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas")

_MB = 2**20


class Tracer:
    """Records spans; with ``spark_context`` set, tags each span's jobs."""

    def __init__(self, run_id: str, spark_context=None) -> None:
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part covered by its (sequential) children."""
        kids = sum(self.wall(c) for c in self.spans if c["parent"] == rec["id"])
        return self.wall(rec) - kids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _empty_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "shuffle_records": 0,
        "spill_mb": 0.0, "task_run_ms": [], "python": {},
    }


def _plan_metrics(node: dict, into: dict) -> None:
    """accumulator id → (python node name, short metric key) for pandas-UDF nodes."""
    if node.get("nodeName") in PY_NODES:
        for m in node.get("metrics", []):
            key = _PY_METRICS.get(m["name"])
            if key:
                into[m["accumulatorId"]] = (node["nodeName"], key)
    for child in node.get("children", []):
        _plan_metrics(child, into)


_WANTED = (
    b'"SparkListenerJobStart"', b'"SparkListenerStageSubmitted"',
    b'"SparkListenerTaskEnd"', b'SQLExecutionStart"', b'SQLAdaptiveExecutionUpdate"',
)


def _events(log_dir: str):
    """Yield the parsed events the attribution needs from every event log
    file under ``log_dir`` (uncompressed, single file per application)."""
    for fn in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fn)
        if not os.path.isfile(path) or fn.startswith("."):
            continue
        with open(path, "rb") as f:
            for line in f:
                head = line[:120]
                if any(w in head for w in _WANTED):
                    yield json.loads(line)


def attribute(log_dir: str, tracer: Tracer) -> dict[str, dict]:
    """Spark counters per span id, from the job group each job carried.

    Counters are the span's own jobs only; ``inclusive`` adds its descendants.
    Python node metrics are summed per node type from the task-level SQL
    metric updates; times in seconds, sizes in MiB."""
    own: dict[str, dict] = {s["id"]: _empty_counters() for s in tracer.spans}
    stage_span: dict[int, str] = {}
    py_acc: dict[int, tuple[str, str]] = {}
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            sid = e.get("Properties", {}).get("spark.jobGroup.id")
            if sid in own:
                own[sid]["jobs"] += 1
        elif ev == "SparkListenerStageSubmitted":
            sid = e.get("Properties", {}).get("spark.jobGroup.id")
            if sid in own:
                stage_span[e["Stage Info"]["Stage ID"]] = sid
                own[sid]["stages"] += 1
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], py_acc)
        elif ev == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None:
                continue
            c = own[sid]
            c["tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                c["failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            c["task_run_ms"].append(run_ms)
            c["executor_run_s"] += run_ms / 1e3
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
            rd = tm.get("Shuffle Read Metrics", {})
            c["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            wr = tm.get("Shuffle Write Metrics", {})
            c["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            c["shuffle_records"] += wr.get("Shuffle Records Written", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                hit = py_acc.get(acc.get("ID"))
                if hit is None:
                    continue
                node, key = hit
                val = float(acc.get("Update") or 0)
                if key.endswith("_s"):
                    val /= 1e3  # 'timing' SQL metrics are milliseconds
                elif key.endswith("_mb"):
                    val /= _MB
                py = c["python"].setdefault(node, {"tasks": 0})
                py[key] = py.get(key, 0.0) + val
                if key == "run_s":
                    py["tasks"] += 1
                    py.setdefault("task_run_s", []).append(val)
    rows = {}
    for s in tracer.spans:
        c = own[s["id"]]
        rows[s["id"]] = {**c, "task_skew": skew(c["task_run_ms"])}
    return rows


def skew(times: list[float]) -> float:
    """max / median task time; 0 when there are no tasks or the median is 0."""
    if not times:
        return 0.0
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


def inclusive(tracer: Tracer, own: dict[str, dict], span_id: str) -> dict:
    """A span's counters plus those of all its descendants."""
    ids = {span_id}
    for s in tracer.spans:  # spans are appended in start order: parents first
        if s["parent"] in ids:
            ids.add(s["id"])
    tot = _empty_counters()
    for i in ids:
        c = own[i]
        for k, v in c.items():
            if k == "python":
                for node, d in v.items():
                    dst = tot["python"].setdefault(node, {})
                    for mk, mv in d.items():
                        dst[mk] = dst.get(mk, 0) + mv if not isinstance(mv, list) \
                            else dst.get(mk, []) + mv
            elif k in tot and k != "task_skew":
                tot[k] = tot[k] + v
    tot["task_skew"] = skew(tot["task_run_ms"])
    return tot
