"""Spans around the public calls the benchmark makes, plus a host probe.

A span records its name, start, end, parent span and request id. Spans stay
in memory and are written out when the run ends. A span's self time is its
duration minus the part of it that its child spans cover. When tracing is
off, ``span`` records nothing and touches no Spark state.

In a traced run each leaf span around an engine call also runs under its own
Spark job group, so the Spark jobs, stages and tasks of that call can be read
back from ``SparkContext.statusTracker()`` after the run.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request=None, sc=None):
        """Time the block as span ``name``; with ``sc`` (a SparkContext),
        run it under a job group named after the span."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "request": request,
               "parent": stack[-1] if stack else None, "group": None}
        if sc is not None:
            rec["group"] = f"perfbench-{sid}"
            sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                _clear_job_group(sc)
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def median_self(self, name: str) -> float:
        """Median self time of the spans called ``name`` (0.0 if none)."""
        st = self.self_times()
        vals = [st[s["id"]] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0


def _clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran in one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
            "failed_tasks": failed}


def wait_for_listener(sc, timeout_s: float = 30.0) -> None:
    """Run one marker job and wait until the status tracker has seen it
    finish. Spark delivers job and stage events to the status store in
    order, so afterwards every earlier job of the run is recorded."""
    group = "perfbench-marker"
    sc.setJobGroup(group, "marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        _clear_job_group(sc)
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        ids = st.getJobIdsForGroup(group)
        info = st.getJobInfo(ids[0]) if ids else None
        if info is not None and info.status == "SUCCEEDED":
            return
        time.sleep(0.05)
    raise TimeoutError("Spark status tracker did not catch up")


def host_speed_s() -> float:
    """Seconds a fixed single-thread CPU loop takes. A diagnostic stored
    with each run to recognise a slow host phase; never used to scale or
    drop a metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t
