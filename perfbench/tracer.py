"""In-memory tracing for the benchmark's traced runs.

Spans are recorded around calls into the program's public functions by
swapping module and class attributes from the benchmark's side; the
program itself is not edited. Spans and counters stay in memory and are
turned into per-layer metrics when the run ends. Spark task metrics come
from the application's monitoring REST API (``sc.uiWebUrl``), read
before each job entry point stops its session.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from datetime import datetime
from urllib.parse import urlsplit


class Tracer:
    """Named spans (start, end), plus the attribute swaps that produce
    them; ``restore`` undoes every swap."""

    def __init__(self) -> None:
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._undo: list[tuple[object, str, object]] = []

    def replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, span: str) -> None:
        """Record a ``span`` around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        spans = self.spans[span]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                spans.append((t0, time.perf_counter()))

        self.replace(owner, attr, traced)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def total_s(self, span: str) -> float:
        return sum(b - a for a, b in self.spans.get(span, ()))

    def calls(self, span: str) -> int:
        return len(self.spans.get(span, ()))

    def n_spans(self) -> int:
        return sum(len(v) for v in self.spans.values())


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one traced call over a bare call, seconds."""
    class Probe:
        @staticmethod
        def f():
            return None

    bare = time.perf_counter()
    for _ in range(n):
        Probe.f()
    bare = time.perf_counter() - bare
    tr = Tracer()
    tr.wrap(Probe, "f", "probe")
    traced = time.perf_counter()
    for _ in range(n):
        Probe.f()
    traced = time.perf_counter() - traced
    tr.restore()
    return max(traced - bare, 0.0) / n


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- Spark monitoring REST API -------------------------------------------

def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.load(resp)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_app_metrics(sc) -> dict:
    """Jobs and finished stages of the running application.

    Returns ``{"jobs": [...], "stages": {stage_id: {...}}}``; each stage
    carries its task metrics and the job group of the first job that
    ran it; the heaviest stage of each job group also carries its
    task-time skew (max / median task run time)."""
    parts = urlsplit(sc.uiWebUrl)
    base = (f"http://127.0.0.1:{parts.port}/api/v1/applications/"
            f"{sc.applicationId}")
    # the status store is fed asynchronously: wait until no job is
    # still running and every stage of a finished job has settled
    for _ in range(100):
        jobs = _get(base, "/jobs")
        stages = _get(base, "/stages")
        if (all(j["status"] != "RUNNING" for j in jobs)
                and all(s["status"] not in ("ACTIVE", "PENDING")
                        for s in stages)):
            break
        time.sleep(0.05)
    group_of: dict[int, str | None] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            group_of.setdefault(sid, j.get("jobGroup"))
    out = {}
    for s in stages:
        if s["status"] != "COMPLETE":
            continue
        out[s["stageId"]] = {
            "group": group_of.get(s["stageId"]),
            "task_s": s["executorRunTime"] / 1e3,
            "gc_s": s.get("jvmGcTime", 0) / 1e3,
            "input_mb": s["inputBytes"] / 2**20,
            "shuffle_read_mb": (s["shuffleLocalBytesRead"]
                                + s["shuffleRemoteBytesRead"]) / 2**20,
            "shuffle_write_mb": s["shuffleWriteBytes"] / 2**20,
            "spill_mb": s["diskBytesSpilled"] / 2**20,
            "attempt": s["attemptId"],
        }
    # skew is read for each group's heaviest stage only: one REST call
    # per group instead of one per stage keeps the tracing cost down
    heaviest: dict[str | None, int] = {}
    for sid, st in out.items():
        best = heaviest.get(st["group"])
        if best is None or st["task_s"] > out[best]["task_s"]:
            heaviest[st["group"]] = sid
    for sid in heaviest.values():
        summary = _get(base, f"/stages/{sid}/{out[sid]['attempt']}"
                             "/taskSummary?quantiles=0.5,1.0")
        median, top = summary["executorRunTime"]
        out[sid]["skew"] = top / median if median else 1.0
    job_spans = [(_ts(j["submissionTime"]), _ts(j["completionTime"]))
                 for j in jobs if j.get("completionTime")]
    return {"jobs": len(jobs), "job_spans": job_spans, "stages": out}
