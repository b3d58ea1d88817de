"""Spans recorded around calls into the program's layers, and the
Spark event-log reader for the traced run.

The benchmark times its own calls with :meth:`Recorder.span`, so those
end-to-end timings and the per-layer spans come from one clock
(micro-batch times come from Spark's streaming progress instead).
Spans stay in memory (a run makes at most a few hundred) and are
written out once, at exit, by the traced run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass(slots=True)
class Span:
    id: int
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    request: str | None
    thread: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span recorder. Each thread keeps its own stack, so a
    span's parent is the innermost open span of the same thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(next(self._ids), name, time.perf_counter(), 0.0,
                  parent.id if parent else None, request,
                  threading.current_thread().name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.start >= since]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the time its children cover (children of one span run on its
        thread, one after another, so they do not overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur - child[s.id]
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **meta,
                    "self_s": self.self_times(),
                    "spans": [asdict(s) for s in self.spans],
                },
                f,
                indent=1,
            )


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs, q: float = 0.9) -> tuple[float, int]:
    """The q-quantile of ``xs`` and the number of samples above it."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0
    if len(xs) == 1:
        return xs[0], 0
    v = statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]
    return v, sum(1 for x in xs if x > v)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need: jobs
    (group, submit time, stages), and per task its stage, launch time,
    GC time and shuffle bytes written."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "submit_ms": ev.get("Submission Time"),
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append(
                        {
                            "job": self.stage_job.get(ev.get("Stage ID")),
                            "launch_ms": info.get("Launch Time", 0),
                            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        }
                    )

    def tasks_between(self, t0_ms: float, t1_ms: float) -> list[dict]:
        return [t for t in self.tasks if t0_ms <= t["launch_ms"] <= t1_ms]

    def jobs_where(self, pred) -> list[int]:
        return [j for j, info in self.jobs.items() if pred(info)]

    def sched_waits(self, job_ids) -> list[float]:
        """Seconds from each job's submission to its first task launch."""
        first = {}
        for t in self.tasks:
            j = t["job"]
            if j is not None and (j not in first or t["launch_ms"] < first[j]):
                first[j] = t["launch_ms"]
        return [
            (first[j] - self.jobs[j]["submit_ms"]) / 1000
            for j in job_ids
            if j in first and self.jobs[j]["submit_ms"] is not None
        ]
