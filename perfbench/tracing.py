"""Spans, Spark job groups and the UI REST cost reader.

A :class:`Tracer` records one span per layer call the benchmark makes
into the package. With tracing on, each span runs its Spark jobs under
its own job group (``pb:<layer>#<span id>``), so after the run the UI
REST counters of every job, stage and SQL execution can be charged to
the span that launched them. With tracing off, spans cost nothing and
set no job group: the end-to-end metrics come from such runs.

The job/stage attribution is ``bench._aggregate_cost`` (each completed
stage charged to the first job that references it); :func:`stage_extras`
adds, under the same claim rule, the executor time, GC, fetch wait,
spill, failed tasks, retries and first-task-launch wait that it leaves
out, and :func:`python_node_seconds` reads the Python-worker time of
the ``/sql?details=true`` plan nodes.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime

TAG = "pb:"

#: plan nodes that run Python workers
PYTHON_NODES = (
    "MapInArrow", "MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
)

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


class Span:
    __slots__ = ("id", "name", "parent", "attrs", "t0", "t1", "w0", "w1")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.t0 = time.perf_counter()
        self.w0 = time.time()
        self.t1 = self.w1 = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "attrs": self.attrs, "start": self.w0, "dur_s": self.dur,
        }


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def group(self, span: Span | None, suffix: str = "") -> None:
        """Run this thread's next Spark jobs under ``span``'s job group."""
        if not self.enabled:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{TAG}{span.name}#{span.id}{suffix}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent if parent is not None else (stack[-1] if stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None, attrs)
            self.spans.append(sp)
        stack.append(sp)
        self.group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.w1 = time.time()
            stack.pop()
            self.group(stack[-1] if stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_s(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        return span.dur - _union([(c.t0, c.t1) for c in self.children(span)])

    def op_account(self, op: Span) -> dict:
        """wall = covered-by-layer-spans + explicit untraced remainder."""
        covered = _union([(c.t0, c.t1) for c in self.children(op)])
        return {"wall_s": op.dur, "layers_s": covered, "untraced_s": op.dur - covered}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# UI REST
# ---------------------------------------------------------------------------


def rest_snapshot(spark) -> dict:
    """jobs, stages, SQL executions (with node metrics) and cached RDDs."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    root = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/"

    def get(path: str):
        with urllib.request.urlopen(root + path, timeout=60) as r:
            return json.load(r)

    return {
        "jobs": get("jobs"),
        "stages": get("stages"),
        "sql": get("sql?details=true&planDescription=false&offset=0&length=1000000"),
        "rdd": get("storage/rdd"),
    }


def parse_time(s: str | None) -> float | None:
    """REST timestamp (``2026-01-01T00:00:00.000GMT``) → epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def span_of_group(group: str | None) -> int | None:
    """Span id of a ``pb:<layer>#<id>[:suffix]`` job group."""
    if not group or not group.startswith(TAG):
        return None
    return int(group.rsplit("#", 1)[1].split(":", 1)[0])


def stage_extras(jobs: list, stages: list) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU/GC time, fetch wait, spill, failed
    tasks, stage retries and first-task-launch waits, each stage charged
    to the first job (ascending id) that references it — the claim rule
    of ``bench._aggregate_cost``. Retried attempts count as retries."""
    latest: dict[int, dict] = {}
    retries: dict[int, int] = {}
    for s in stages:
        sid = s["stageId"]
        if s.get("attemptId", 0) > 0:
            retries[sid] = retries.get(sid, 0) + 1
        if s.get("status") == "COMPLETE" and (
            sid not in latest or s.get("attemptId", 0) > latest[sid].get("attemptId", 0)
        ):
            latest[sid] = s
    failed_tasks: dict[int, int] = {}
    for s in stages:
        failed_tasks[s["stageId"]] = failed_tasks.get(s["stageId"], 0) + s.get("numFailedTasks", 0)
    out: dict[str, dict[str, float]] = {}
    claimed: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup") or ""
        m = out.setdefault(g, {
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "fetch_wait_s": 0.0,
            "spill_bytes": 0, "failed_tasks": 0, "stage_retries": 0,
            "launch_waits_ms": [],
        })
        for sid in j.get("stageIds", ()):
            if sid in claimed:
                continue
            claimed.add(sid)
            m["failed_tasks"] += failed_tasks.get(sid, 0)
            m["stage_retries"] += retries.get(sid, 0)
            s = latest.get(sid)
            if s is None:
                continue
            m["run_s"] += s.get("executorRunTime", 0) / 1e3
            m["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            m["fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
            m["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            sub = parse_time(s.get("submissionTime"))
            first = parse_time(s.get("firstTaskLaunchedTime"))
            if sub is not None and first is not None:
                m["launch_waits_ms"].append((first - sub) * 1e3)
    return out


def _metric_seconds(value: str) -> float:
    """Total of a SQL timing metric (first ``<number> <unit>`` of the
    value, which Spark prints as the total)."""
    m = re.search(r"([\d.,]+)\s*(ns|ms|s|m|h)\b", value)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def python_node_seconds(sql: list, jobs: list) -> dict[str, float]:
    """Per job group: seconds of Python-worker time reported by the
    ``/sql`` plan nodes that run Python (``PYTHON_NODES``)."""
    group_of_job = {j["jobId"]: j.get("jobGroup") or "" for j in jobs}
    out: dict[str, float] = {}
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        if not ids:
            continue
        g = group_of_job.get(min(ids), "")
        for node in ex.get("nodes", ()):
            if node.get("nodeName") not in PYTHON_NODES:
                continue
            for metric in node.get("metrics", ()):
                if metric.get("name") == "time to run Python workers":
                    out[g] = out.get(g, 0.0) + _metric_seconds(metric.get("value", ""))
    return out


def job_intervals(jobs: list) -> dict[str, list[tuple[float, float]]]:
    """Per job group: the (submit, complete) epoch intervals of its jobs."""
    out: dict[str, list[tuple[float, float]]] = {}
    for j in jobs:
        a, b = parse_time(j.get("submissionTime")), parse_time(j.get("completionTime"))
        if a is not None and b is not None:
            out.setdefault(j.get("jobGroup") or "", []).append((a, b))
    return out


def driver_gap_s(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Time inside ``span`` with none of its jobs running."""
    clipped = [(max(a, span.w0), min(b, span.w1)) for a, b in intervals]
    return max(0.0, span.dur - _union([(a, b) for a, b in clipped if b > a]))
