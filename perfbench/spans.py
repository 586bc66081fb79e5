"""Spans and Spark engine counters for the traced benchmark run.

A ``Tracer`` records spans (name, start, end, parent) around the
benchmark's own calls into the package's public functions. Spans live
in memory and are reduced at the end of the run. A span's
self time is its duration minus the part of it its children cover.

``EngineCounters`` reads the Spark status store (it works with the UI
disabled) and returns, per call, the work done since the previous
call: jobs, tasks, failed tasks, executor CPU and GC time, shuffle
bytes and spill. The listener bus is drained first, so the counts of
an action that has returned are complete.

With tracing off, ``Tracer.span`` records nothing and no counters are
read, so the untraced run times the program alone.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    engine: bool = False
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, counters: "EngineCounters | None" = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, engine: bool = False):
        """Record ``name`` around the block. With ``engine=True`` the
        status store is read at both edges, so Spark work is attributed
        to the innermost engine span open while it ran (its self
        counts). The reads sit inside spans, so their cost shows as
        tracing overhead, never as another layer's time."""
        if not self.enabled:
            yield None
            return
        read = engine and self.counters is not None
        if read:
            self._flush()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, engine=read)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            if read:
                self._flush()
            sp.end = time.perf_counter()
            self._stack.pop()

    def _flush(self) -> None:
        delta = self.counters.delta()
        for idx in reversed(self._stack):
            if self.spans[idx].engine:
                for k, v in delta.items():
                    self.spans[idx].counts[k] = self.spans[idx].counts.get(k, 0) + v
                return

    def total_counts(self, idx: int) -> dict[str, float]:
        """Engine counts of a span including its descendants."""
        out = dict(self.spans[idx].counts)
        for i, sp in enumerate(self.spans):
            if sp.parent == idx:
                for k, v in self.total_counts(i).items():
                    out[k] = out.get(k, 0) + v
        return out

    def indices(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def add(self, name: str, start: float, end: float, parent: Span | None = None) -> Span:
        """Record a span measured elsewhere (e.g. a streaming trigger
        reported by the engine's own progress)."""
        idx = next(i for i, s in enumerate(self.spans) if s is parent) if parent else None
        sp = Span(name, start, end, idx)
        self.spans.append(sp)
        return sp

    def descendants(self, idx: int) -> list[int]:
        out = []
        for i, sp in enumerate(self.spans):
            if sp.parent == idx:
                out += [i] + self.descendants(i)
        return out

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        covered = _union_length(
            [(max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(idx)]
        )
        return sp.duration - covered


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EngineCounters:
    """Status-store deltas: every stage and job newer than the previous
    call is summed once. Stages still running when a delta is taken are
    left for the next call."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        jvm = spark._jvm
        self._args = (
            jvm.java.util.ArrayList(),
            False,
            False,
            spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        self._counted: set[int] = set()
        self._low = 0  # every stage id below this is final and counted
        self._max_job = -1
        self.delta()  # everything before construction is baseline

    @staticmethod
    def _newest_first(seq, key):
        n = seq.size()
        if n > 1 and key(seq.apply(0)) < key(seq.apply(n - 1)):
            return (seq.apply(n - 1 - i) for i in range(n))
        return (seq.apply(i) for i in range(n))

    def delta(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        stages = self._store.stageList(*self._args)
        low, top = None, self._low
        for s in self._newest_first(stages, lambda s: s.stageId()):
            sid = s.stageId()
            if sid < self._low:
                break
            top = max(top, sid + 1)
            if s.status().toString() in ("ACTIVE", "PENDING"):
                low = sid if low is None else min(low, sid)
                continue
            if sid in self._counted:
                continue
            self._counted.add(sid)
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._low = top if low is None else low
        self._counted = {i for i in self._counted if i >= self._low}
        jobs = self._store.jobsList(None)
        newest = self._max_job
        for j in self._newest_first(jobs, lambda j: j.jobId()):
            jid = j.jobId()
            if jid <= self._max_job:
                break
            out["jobs"] += 1
            newest = max(newest, jid)
        self._max_job = newest
        return out
