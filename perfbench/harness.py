"""Shared pieces of the benchmark workloads: the run context with its
sampling helpers, the result record and small statistics."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time

from spans import EngineCounters, Tracer


class Context:
    """What every workload gets: the session, the scratch root, the
    tracer and the sampling helpers."""

    def __init__(self, args, spark, work: str, cpus: int, bounds: dict[str, float]):
        self.args = args
        self.spark = spark
        self.work = work
        self.cpus = cpus
        self.seed = args.seed
        self.bounds = bounds  # end-to-end metric -> regression bound
        self.trace = bool(args.trace)
        self.counters = EngineCounters(spark) if self.trace else None
        # workloads enable the tracer around the samples they trace
        self.tracer = Tracer(False, self.counters)

    def settle(self) -> None:
        """Between samples, outside every timed region: collect garbage
        in both runtimes so one sample's garbage is not charged to the
        next."""
        gc.collect()
        self.spark._jvm.System.gc()

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def measure(self, op, min_samples: int = 1) -> list[float]:
        """Run ``op(i)`` until ``--seconds`` have passed and at least
        ``min_samples`` samples are taken. ``op`` prepares its inputs,
        calls ``settle`` and then times itself; it returns its wall."""
        walls: list[float] = []
        t_end = time.perf_counter() + self.args.seconds
        while len(walls) < min_samples or time.perf_counter() < t_end:
            walls.append(op(len(walls)))
        return walls


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def halves_agree(groups: list[list[float]], bound: float) -> bool | None:
    """Self-check of a run's stability: the step samples of the first
    half of its operations and those of the second half have medians
    within ``bound`` of each other. None with fewer than two operations."""
    if len(groups) < 2:
        return None
    h = len(groups) // 2
    a = median([x for g in groups[:h] for x in g])
    b = median([x for g in groups[h:] for x in g])
    return abs(b - a) <= bound * a


class Result:
    def __init__(self):
        self.correct = True
        self.attempted = 0
        self.failed = 0
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.detail: dict = {"checks": {}}

    def self_check_halves(self, groups: list[list[float]], bound: float) -> None:
        """Report ``halves_agree`` in the detail line and warn on stderr
        when it fails. A drift in timing is not a wrong output, so it
        leaves ``correct`` alone."""
        ok = halves_agree(groups, bound)
        self.detail["halves_agree"] = ok
        if ok is False:
            print("WARNING: first- and second-half step medians differ by more "
                  f"than {bound:.0%}", file=sys.stderr)

    def check(self, name: str, ok: bool, info=None) -> None:
        self.detail["checks"][name] = ok if info is None else {"ok": ok, "info": info}
        if not ok:
            self.correct = False
            print(f"CHECK FAILED: {name} {info if info is not None else ''}", file=sys.stderr)


def engine_metrics(tracer, op_indices: list[int], cpus: int) -> dict[str, float]:
    """``engine.*`` per operation from the status-store counts of the
    op spans (descendants included), as medians over the traced ops.
    ``cpu_util`` is executor CPU over (wall x cores)."""
    per_op: dict[str, list[float]] = {}
    for idx in op_indices:
        c = tracer.total_counts(idx)
        wall = tracer.spans[idx].duration
        for k in ("jobs", "tasks", "failed_tasks", "cpu_s", "gc_s",
                  "shuffle_bytes", "spill_bytes"):
            per_op.setdefault(f"engine.{k}", []).append(c.get(k, 0.0))
        per_op.setdefault("engine.cpu_util", []).append(
            c.get("cpu_s", 0.0) / (wall * cpus) if wall > 0 else 0.0
        )
    return {k: median(v) for k, v in per_op.items()}
