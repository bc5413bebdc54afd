"""Spans and per-call Spark counters, recorded from outside the program.

``Recorder.call(layer, name)`` wraps one call into a layer's public
function. Untraced, it does nothing. Traced, it

- tags the call's Spark jobs with a job group of their own and, after
  the call, reads the group's jobs, stages and tasks from
  ``sparkContext.statusTracker()`` (no extra Spark job, and the counts
  repeat exactly);
- reads shuffle bytes of those stages from the Spark UI's REST endpoint
  (the UI is only enabled in traced runs);
- records a span: name, start, end, parent span and request id.

Spans stay in memory until ``write_spans`` at exit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<call>[.<variant>]"
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    failed: bool = False
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, traced: bool):
        self.traced = traced
        self._on = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = 0
        self._request: str | None = None
        self.spark = None

    def attach(self, spark) -> None:
        """Bind the session once it exists (the session start itself is
        recorded before there is a session to read counters from)."""
        self.spark = spark
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._rest = None
        if self.traced and self._sc.uiWebUrl:
            port = int(self._sc.uiWebUrl.rsplit(":", 1)[1])
            self._rest = (
                f"http://localhost:{port}/api/v1/applications/"
                f"{self._sc.applicationId}"
            )

    @contextmanager
    def request(self, request_id: str):
        """Group the spans of one probe or cycle under one request id."""
        prev = self._request
        self._request = request_id
        try:
            yield
        finally:
            self._request = prev

    @contextmanager
    def tracing(self, on: bool):
        """Switch recording off (or back on) for a stretch of a traced
        run, so traced and untraced rounds can be compared."""
        prev = self._on
        self._on = on and self.traced
        try:
            yield
        finally:
            self._on = prev

    @contextmanager
    def call(self, layer: str, name: str):
        """Record one call into ``layer``: its span and, with a session
        attached, its Spark jobs, stages, tasks and shuffle bytes. Does
        nothing unless tracing is on. The body must materialize the
        call's result, because most calls return lazy DataFrames."""
        if not self._on:
            yield None
            return
        span = Span(
            id=self._ids, name=f"{layer}.{name}", layer=layer,
            start=0.0, parent=self._stack[-1].id if self._stack else None,
            request=self._request,
        )
        self._ids += 1
        if self.spark is not None:
            span.group = f"perfbench-{span.id}"
            self._sc.setJobGroup(span.group, span.name)
        self._stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        except BaseException:
            span.failed = True
            raise
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if span.group is not None:
                self._count(span, span.group)
                parent = self._stack[-1] if self._stack else None
                if parent is not None and parent.group is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(span)

    def _count(self, span: Span, group: str) -> None:
        # job/stage events reach the status store through the listener
        # bus; drain it so the counts are complete and repeatable
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        stage_ids = []
        for job in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job)
            if info is None:
                continue
            span.jobs += 1
            stage_ids.extend(info.stageIds)
        for sid in stage_ids:
            st = self._tracker.getStageInfo(sid)
            if st is None:
                continue  # skipped stage: never ran
            span.stages += 1
            span.tasks += st.numTasks
            span.shuffle_bytes += self._shuffle_bytes(sid)

    def _shuffle_bytes(self, stage_id: int) -> int:
        if self._rest is None:
            return 0
        with urllib.request.urlopen(
            f"{self._rest}/stages/{stage_id}", timeout=10
        ) as r:
            attempts = json.loads(r.read())
        return sum(int(a.get("shuffleWriteBytes", 0)) for a in attempts)

    # -- summaries -----------------------------------------------------

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and not s.failed]

    def stat(self, name: str, stat: str) -> float:
        """A per-call statistic over every span named ``name``:
        ``s``/``ms`` total wall, ``p50_ms`` median wall, ``jobs`` /
        ``tasks`` median per call, ``shuffle_bytes`` total. A call that
        was never made reads 0."""
        spans = self.of(name)
        if not spans:
            return 0.0
        if stat == "s":
            return sum(s.seconds for s in spans)
        if stat == "ms":
            return 1000.0 * sum(s.seconds for s in spans)
        if stat == "p50_ms":
            return 1000.0 * statistics.median(s.seconds for s in spans)
        if stat in ("jobs", "tasks", "stages"):
            return float(statistics.median(getattr(s, stat) for s in spans))
        if stat == "shuffle_bytes":
            return float(sum(s.shuffle_bytes for s in spans))
        raise ValueError(stat)

    def self_seconds(self) -> dict[str, float]:
        """Each layer's self time: its spans' durations minus the part
        covered by their child spans."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            own = max(0.0, s.seconds - covered.get(s.id, 0.0))
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def totals(self) -> dict[str, int]:
        return {
            "jobs": sum(s.jobs for s in self.spans),
            "stages": sum(s.stages for s in self.spans),
            "tasks": sum(s.tasks for s in self.spans),
            "shuffle_bytes": sum(s.shuffle_bytes for s in self.spans),
        }

    def write_spans(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "request": s.request,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                    "shuffle_bytes": s.shuffle_bytes, "failed": s.failed,
                }) + "\n")


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds used so far by process ``root`` and
    every descendant, reaped ones included (the Spark JVM and its Python
    workers are descendants of the benchmark process). CPU time leaves
    out the time a virtual CPU was not running, which wall time counts."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while we looked
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = data[data.rindex(")") + 2:].split()
        stats[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")
