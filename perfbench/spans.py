"""Spans and Spark counters recorded from outside the engine.

A span is (id, parent id, name, start, end, attrs). Spans nest by a
stack: a new span's parent is the innermost open span. They are kept
in memory and written out once, at the end of a run. A span opened
with ``job_group=True`` runs its Spark work under its own job group,
so the jobs, stages and task metrics it caused can be read afterwards
from ``statusTracker()`` and the JVM ``AppStatusStore``; both work
with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage counters summed per job group: (name, StageData getter, scale)
STAGE_COUNTERS = (
    ("task_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``open`` and ``span``
    return ``None`` and record nothing."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[str] = []

    def open(self, name: str, job_group: bool = False, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if job_group:
            s.attrs["job_group"] = f"span-{s.id}"
            self._groups.append(s.attrs["job_group"])
            self.sc.setJobGroup(s.attrs["job_group"], name)
        s.start = time.perf_counter()
        return s

    def close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        if self._stack.pop() is not s:
            raise RuntimeError(f"span {s.name!r} closed out of order")
        if s.attrs.get("job_group"):
            self._groups.pop()
            if self._groups:
                self.sc.setJobGroup(self._groups[-1], "")
            else:
                self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        s = self.open(name, job_group, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part covered by direct children (children
        never overlap: the benchmark is single-threaded)."""
        return s.dur - sum(c.dur for c in self.children(s))

    def collect_counters(self) -> None:
        """Attach job/stage/task counters to every job-group span not
        read yet. Call outside any timed region."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            group = s.attrs.get("job_group")
            if not group or "jobs" in s.attrs:
                continue
            jobs = tracker.getJobIdsForGroup(group)
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = {k: 0.0 for k, _, _ in STAGE_COUNTERS}
            stages = tasks = 0
            for sid in stage_ids:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                for k, getter, scale in STAGE_COUNTERS:
                    c[k] += getattr(sd, getter)() * scale
            s.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks, **c)

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "dur": s.dur,
                "self": self.self_time(s),
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1, default=str)
