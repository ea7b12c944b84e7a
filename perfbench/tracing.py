"""Spans, Spark job accounting and process-tree memory sampling.

A span wraps one call into a layer's public function from outside the
program: it sets a Spark job group, runs and forces the call, waits for
the listener bus to drain, and reads the group's job, stage and task
counts from ``SparkContext.statusTracker()`` (which works with
``spark.ui.enabled=false``). Spans are kept in memory and written once,
when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def spark_counts(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages run, tasks completed, tasks failed) of a job group,
    read after the listener bus has drained so the counts are final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is None:
            continue
        if info.numCompletedTasks or info.numFailedTasks:  # skipped stages ran nothing
            stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return len(jobs), stages, tasks, failed


class Tracer:
    """In-memory span recorder for one run (one trace id)."""

    def __init__(self, sc):
        self.sc = sc
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name or layer, layer=layer, trace_id=self.trace_id,
            span_id=len(self.spans), parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.trace_id}-{sp.span_id}"
        self.sc.setJobGroup(group, f"{layer}:{sp.name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # jobs land in the innermost open group, so these are the
            # span's own (self) counts; children report theirs
            sp.jobs, sp.stages, sp.tasks, sp.failed_tasks = spark_counts(self.sc, group)
            if parent is not None:
                self.sc.setJobGroup(f"{self.trace_id}-{parent.span_id}", parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered = 0.0
        last_end = sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, last_end), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        return sp.wall - covered

    def layer_totals(self, layers: list[str]) -> dict[str, float | int]:
        """Per layer: self-time busy seconds and self job/stage/task counts."""
        out: dict[str, float | int] = {}
        for layer in layers:
            mine = [s for s in self.spans if s.layer == layer]
            out[f"{layer}.busy_s"] = sum(self.self_time(s) for s in mine)
            for k in ("jobs", "stages", "tasks"):
                out[f"{layer}.{k}"] = sum(getattr(s, k) for s in mine)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_time(s)
            rows.append(d)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"trace_id": self.trace_id, "spans": rows}, f, indent=1, default=str)


# --------------------------------------------------------------------------
# memory: sampled RSS of this process and all of its descendants
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread keeping the max summed RSS of the process tree
    (driver Python, the JVM, and Spark's Python workers)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
