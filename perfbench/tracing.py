"""Phase spans and Spark job counts for the traced benchmark run.

A span is recorded around each call into a layer: name, start, end, parent
span and run id.  Spans stay in memory and are written out as JSON when
the run ends.  Each leaf span runs under its own Spark job group, so the
jobs, stages and tasks it caused are read back afterwards from pyspark's
public ``StatusTracker`` (which works with ``spark.ui.enabled=false``).

With tracing off, ``span`` only yields: no clock reads, no job groups.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float
    group: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._ids = itertools.count()
        # time spent in the tracer's own bookkeeping (job-group calls);
        # the StatusTracker reads happen after the timed region
        self.overhead_s = 0.0

    def _set_group(self, group: str | None) -> None:
        t = time.perf_counter()
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{sid}/{name}"
        self._set_group(group)
        self._stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent[1] if parent else None)
            self.spans.append(Span(sid, name, parent[0] if parent else None, self.run_id, start, end, group))

    def collect_counts(self, settle_s: float = 5.0) -> None:
        """Fill each span's job/stage/task counts from the StatusTracker.
        Job-end events reach the status store asynchronously, so poll until
        every job of every traced group has finished."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + settle_s
        while True:
            infos = {s.id: [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(s.group)] for s in self.spans}
            running = any(i is None or i.status == "RUNNING" for jobs in infos.values() for i in jobs)
            if not running or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for s in self.spans:
            stage_ids = {sid for i in infos[s.id] if i is not None for sid in i.stageIds}
            stages = [st for st in (tracker.getStageInfo(sid) for sid in stage_ids) if st is not None]
            ran = [st for st in stages if st.numCompletedTasks + st.numFailedTasks > 0]
            s.jobs = len(infos[s.id])
            s.stages = len(ran)
            s.tasks = sum(st.numCompletedTasks for st in ran)
            s.failed_tasks = sum(st.numFailedTasks for st in ran)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered, cursor = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.wall - covered

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
