"""In-memory spans and the counters taken at span boundaries.

A span records its name, start, end and parent.  Spans nest as
run -> pass/round -> op -> {build, action}.  When counting is on, each span
also records how many py4j commands the process sent while it was open and,
for spans opened with ``jobs=True``, the Spark jobs run under the span's own
job group with their task, shuffle, input-row and executor-time totals.

The counter sources are small objects so that tests can substitute fakes:
:class:`Py4jCounter` wraps a gateway client's ``send_command``;
:class:`SparkJobs` reads a SparkContext's status tracker and status store.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

JOB_FIELDS = ("jobs", "tasks", "shuffle_bytes", "input_rows", "executor_run_ms")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts commands sent through one py4j gateway client.

    The count is paused while the benchmark reads its own counters, so
    only calls made on behalf of the engine are attributed to spans."""

    def __init__(self, client):
        self.client = client
        self.count = 0
        self._paused = 0
        self._orig = None

    def install(self) -> None:
        orig = self._orig = self.client.send_command

        def send_command(*args, **kwargs):
            if not self._paused:
                self.count += 1
            return orig(*args, **kwargs)

        self.client.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            del self.client.send_command  # drops the instance override
            self._orig = None

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1


class SparkJobs:
    """Job-group bookkeeping on a live SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def current_group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def totals(self, group: str) -> dict:
        # the status store is fed by the listener bus; drain it so the
        # group's finished stages are all recorded before they are read
        self.bus.waitUntilEmpty(10_000)
        out = dict.fromkeys(JOB_FIELDS, 0)
        for job_id in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                try:
                    st = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stages never reach the store
                    continue
                out["tasks"] += st.numTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_rows"] += st.inputRecords()
                out["executor_run_ms"] += st.executorRunTime()
        return out


class Tracer:
    """Records spans; counts py4j commands and Spark jobs when ``counting``.

    ``py4j`` and ``jobs`` are optional counter sources (see module doc).
    ``counting`` may be toggled between spans, which is how a traced run
    measures its own overhead against uncounted passes."""

    def __init__(self, py4j: Py4jCounter | None = None,
                 jobs: SparkJobs | None = None, clock=time.perf_counter):
        self.py4j = py4j
        self.jobs = jobs
        self.clock = clock
        self.counting = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, self.clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        counting = self.counting
        group = prev_group = None
        if counting and self.py4j is not None:
            p0 = self.py4j.count
        if counting and jobs and self.jobs is not None:
            group = f"perfbench-{s.id}"
            with self.quiet():
                prev_group = self.jobs.current_group()
                self.jobs.set_group(group)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if counting and self.py4j is not None:
                s.counters["py4j_calls"] = self.py4j.count - p0
            if group is not None:
                with self.quiet():
                    self.jobs.set_group(prev_group)
                    s.counters.update(self.jobs.totals(group))

    @contextmanager
    def quiet(self):
        if self.py4j is None:
            yield
        else:
            with self.py4j.paused():
                yield

    def find(self, name: str, parent: Span | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (parent is None or s.parent == parent.id)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans],
                 "self_s": self_times(self.spans)},
                f,
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that its
    children's intervals cover (overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s.id, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.duration - covered
    return out
