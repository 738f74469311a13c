"""Spans and Spark counters for the traced run.

Spans are recorded only here, around the benchmark's calls into a
layer: name, layer, phase, start, end, parent span and the unit (one
refresh or pass) they belong to. They are kept in memory and written
out once at exit. Each span runs its Spark jobs under a job group of
its own; after the run the groups are read back through the status
tracker, and stage task metrics and job timings come from the Spark
driver's monitoring REST API (localhost only). Streaming progress
comes from a `StreamingQueryListener`, which is active in both traced
and untraced runs because micro-batch time is an end-to-end metric.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    name: str
    layer: str | None
    phase: str | None
    unit: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"


class Tracer:
    """Records spans when enabled; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def active(self) -> bool:
        """Whether the calling thread is inside a span of this tracer."""
        return self.enabled and bool(self._stack())

    @contextmanager
    def span(self, name: str, layer: str | None = None, phase: str | None = None,
             unit: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, layer, phase,
                 unit if unit is not None else (parent.unit if parent else None),
                 parent.span_id if parent else None, time.perf_counter())
        stack.append(s)
        self._sc.setJobGroup(s.group, name, False)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.span_id: (s.end - s.start) - child[s.span_id] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _parse_ts(v: str | None) -> float | None:
    if not v:
        return None
    return datetime.strptime(v.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkCounters:
    """Job/stage metrics per job group from the status tracker and the
    Spark driver's monitoring REST API."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        port = self._sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{self._sc.applicationId}"
        self._get("/storage/rdd")  # the first request initialises the REST servlet (~1 s)

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def cached_mb(self) -> float:
        rdds = self._get("/storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 2**20

    def by_group(self, groups: list[str]) -> tuple[dict[str, dict], list[float]]:
        """Per job group: jobs, tasks, executor run time, shuffle and
        spill bytes; plus every job's wait from submission to its first
        task launch."""
        tracker = self._sc.statusTracker()
        jobs = {j["jobId"]: j for j in self._get("/jobs")}
        stages = {}
        for st in self._get("/stages"):
            if st.get("status") in ("COMPLETE", "FAILED"):
                stages[st["stageId"]] = st
        owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid].get("stageIds", []):
                owner.setdefault(sid, jid)
        out: dict[str, dict] = {}
        waits: list[float] = []
        for g in groups:
            acc = {"jobs": 0, "tasks": 0, "run_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
            for jid in tracker.getJobIdsForGroup(g):
                acc["jobs"] += 1
                job = jobs.get(jid)
                if job is None:
                    continue
                first = []
                for sid in job.get("stageIds", []):
                    st = stages.get(sid)
                    if st is None or owner.get(sid) != jid:
                        continue
                    acc["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    acc["run_ms"] += st.get("executorRunTime", 0)
                    acc["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                    acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    t = _parse_ts(st.get("firstTaskLaunchedTime"))
                    if t is not None:
                        first.append(t)
                sub = _parse_ts(job.get("submissionTime"))
                if first and sub is not None:
                    waits.append(max(0.0, min(first) - sub))
            out[g] = acc
        return out, waits


class ProgressLog(StreamingQueryListener):
    """Collects every streaming progress report of the session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reports: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.reports.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout: float = 30.0) -> list[dict]:
        """Wait until every started query has reported termination
        (events arrive asynchronously), then hand over the reports
        collected so far and start a new batch of them."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.reports = self.reports, []
        return out
