"""Spans around calls into the program's public functions.

A span records its name, start, end, parent, workload and sample id, and
the Spark jobs, stages, tasks and failed tasks run inside it. Spark work
is attributed through ``setJobGroup``: each span sets its own job group,
so a job counts toward the innermost open span, and a span's totals add
those of its children. Counts are read from ``statusTracker`` when the
span closes, while Spark still retains the jobs.

Spans stay in memory and are written out once, at the end of the run.
With tracing off every span is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    workload: str = ""
    sample: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once a session exists; spans before it count no jobs

    @contextlib.contextmanager
    def span(self, name: str, sample: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(),
                  parent=parent.id if parent else None,
                  workload=self.workload, sample=sample)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # the session may have started inside this span (set-up)
            sc = self.sc
            if sc is not None:
                self._count(sp)
                if parent:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            for cid in sp.children:
                child = self.spans[cid]
                sp.jobs += child.jobs
                sp.stages += child.stages
                sp.tasks += child.tasks
                sp.failed_tasks += child.failed_tasks

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _count(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(self._group(sp)):
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            sp.jobs += 1
            for sid in job.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                sp.stages += 1
                sp.tasks += st.numTasks
                sp.failed_tasks += st.numFailedTasks

    def self_seconds(self, sp: Span) -> float:
        """Duration minus the time its children cover (children of one
        span never overlap: the benchmark is single-threaded)."""
        return sp.seconds - sum(self.spans[c].seconds for c in sp.children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def table(self) -> list[dict]:
        """Per-layer table: one row per span name, totals over its spans."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"span": s.name, "count": 0, "seconds": 0.0,
                                         "self_seconds": 0.0, "jobs": 0, "stages": 0,
                                         "tasks": 0, "failed_tasks": 0})
            r["count"] += 1
            r["seconds"] += s.seconds
            r["self_seconds"] += self.self_seconds(s)
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                r[k] += getattr(s, k)
        return list(rows.values())

    def write(self, spans_path: str, table_path: str) -> None:
        with open(spans_path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
        with open(table_path, "w") as f:
            json.dump(self.table(), f, indent=1)
