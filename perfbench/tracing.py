"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code, around calls into the
library's public functions, so nothing inside ``willa_spark`` changes. A
span has a name, a start, an end, its parent and the operation it belongs
to (one query call, or one micro-batch); all spans stay in memory until
the run writes them out. py4j commands are counted per span by wrapping
the clients' ``send_command``. Spark's own work is read afterwards from
the event log (jobs, tasks, shuffle, spill) and from each query's
``QueryPlanningTracker``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            s = {
                "id": sid,
                "parent": parent["id"] if parent else None,
                "op": op if op is not None else (parent["op"] if parent else None),
                "name": name,
                "t0": time.perf_counter(),
                "t1": None,
                "py4j": 0,
            }
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper. Callers that
        imported the function by name hold their own binding, so patch
        each caller's module, not only the defining one."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def count_py4j(self) -> None:
        """Attribute every py4j command to the innermost open span of the
        thread that sends it."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.JavaClient, java_gateway.GatewayClient):
            orig = cls.send_command

            def send_command(client, *args, _orig=orig, **kwargs):
                st = getattr(self._local, "stack", None)
                if st:
                    st[-1]["py4j"] += 1
                return _orig(client, *args, **kwargs)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = send_command

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# -- span arithmetic -----------------------------------------------------

def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["t1"] is not None:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - _covered(s["t0"], s["t1"], kids[s["id"]])
        for s in spans
        if s["t1"] is not None
    }


def inclusive_py4j(spans: list[dict]) -> dict[int, int]:
    """Span id → py4j commands sent inside it, its descendants included."""
    total = {s["id"]: s["py4j"] for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children after parents
        if s["parent"] is not None:
            total[s["parent"]] += total[s["id"]]
    return total


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, summed self time (s) and inclusive py4j."""
    st, p4 = self_times(spans), inclusive_py4j(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "py4j": 0})
    for s in spans:
        if s["t1"] is None:
            continue
        agg = out[s["name"]]
        agg["calls"] += 1
        agg["self_s"] += st[s["id"]]
        agg["py4j"] += p4[s["id"]]
    return dict(out)


# -- Catalyst -------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Planning phases of ``df``'s own QueryExecution. ``executedPlan()``
    forces optimization and planning on it first: a write would plan a
    fresh QueryExecution whose tracker shows only analysis."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        got = phases.get(p)
        out[p] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


# -- event log --------------------------------------------------------------

def _event_files(evdir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, entry)
        if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_*
            files += sorted(os.path.join(path, p) for p in os.listdir(path) if p.startswith("events_"))
        else:
            files.append(path)
    return files


def parse_event_log(evdir: str) -> dict[int, dict]:
    """Job id → {t0, t1 (ms), props, tasks, cpu_s, gc_s, shuffle_bytes,
    spill_bytes}, from the Spark event log under ``evdir``. Task metrics
    are summed over every task of the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(evdir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "t0": ev["Submission Time"], "t1": None,
                        "props": ev.get("Properties") or {},
                        "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def job_stats(jobs: list[dict]) -> dict[str, float]:
    """Totals over a set of jobs; ``wall_s`` is the union of their
    submission→completion intervals, so concurrent jobs count once."""
    spans = [(j["t0"] / 1e3, j["t1"] / 1e3) for j in jobs if j["t1"] is not None]
    lo = min((a for a, _ in spans), default=0.0)
    hi = max((b for _, b in spans), default=0.0)
    return {
        "jobs": len(jobs),
        "wall_s": _covered(lo, hi, spans),
        "cpu_s": sum(j["cpu_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
    }
