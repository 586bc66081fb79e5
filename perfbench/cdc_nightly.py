"""``cdc_nightly``: the paper's nightly job.

Set-up generates a Dynamics landing zone from the seed (six entities:
SalesLine, SalesHeader and ChangeLogEntry are large, Item, Customer and
Vendor small), runs the untimed full load through
``EntityPipeline.run`` with the CLI's default pointer sink, then one
untimed night (the first incremental merge is still cold). Every night
lands one delta CSV per entity (about 1% upserts, new keys and
soft-delete sentinel rows; from night 2 on one drift column) before its
clock starts; the clock covers one ``EntityPipeline.run()`` over all
entities.

End-to-end: ``op_s`` is the median night, ``step_s`` the median
``run_entity`` call (the time until one table is published). The
detail line's ``halves_agree`` compares the ``run_entity`` calls of the
first and second half of the nights.

Check: after the last night every published snapshot, read without
Spark, equals the generator's ground truth on its non-audit columns,
and the snapshot of one entity chosen by the seed also equals
``pipeline.full_load`` over every file landed for it (files with and
without the drift column read as two groups and drift-unioned). Each
entity run counts as one attempted operation; a ``status: error``
counts as failed.
"""

from __future__ import annotations

import os
import time
from contextlib import ExitStack, contextmanager

import pyarrow.parquet as pq

import datagen
from harness import Result, dir_bytes, engine_metrics, median

# landing-zone size relative to datagen.SIZES
SCALE = 0.25


@contextmanager
def traced_modules(tracer):
    """Wrap the public functions ``run_entity`` calls with spans for the
    duration of the block, so the real pipeline code runs unchanged
    under the tracer."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark import pipeline, sinks
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import cdc
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.sources import csv_entity
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.sources.state import (
        WatermarkStore,
    )

    targets = [
        (csv_entity, "list_entity_files", "sources.list", False),
        (csv_entity, "prune_files", "sources.prune", False),
        (csv_entity, "read_entity", "sources.read", True),
        (WatermarkStore, "get", "sources.state_get", False),
        (WatermarkStore, "commit", "sources.state_commit", False),
        (pipeline.EntityPipeline, "read_snapshot", "pipeline.snapshot", False),
        (pipeline, "prepare_entity_frame", "operators.prepare", False),
        (cdc, "merge_cdc", "operators.merge_cdc", False),
        (cdc, "resolve_snapshot", "operators.resolve_snapshot", False),
        (cdc, "add_audit", "operators.add_audit", False),
        (sinks, "next_version_dir", "sinks.next_version_dir", False),
        (sinks, "publish_version", "sinks.publish_version", False),
        (pipeline.EntityPipeline, "run_entity", "pipeline.run_entity", True),
    ]

    def wrap(fn, name, engine):
        def inner(*a, **k):
            with tracer.span(name, engine=engine):
                return fn(*a, **k)

        return inner

    with ExitStack() as stack:
        for owner, attr, name, engine in targets:
            orig = owner.__dict__[attr]
            setattr(owner, attr, wrap(orig, name, engine))
            stack.callback(setattr, owner, attr, orig)
        yield


def expected_snapshot(spark, entity_dir: str, drift_col: str):
    """``pipeline.full_load`` over every landed file of one entity."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.coerce import (
        drift_union,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.pipeline import full_load
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.sources import csv_entity

    plain, drifted = [], []
    for f in csv_entity.list_entity_files(entity_dir):
        with open(f.path) as fh:
            (drifted if drift_col in fh.readline() else plain).append(f.path)
    frames = [csv_entity.read_entity(spark, g) for g in (plain, drifted) if g]
    df = frames[0] if len(frames) == 1 else drift_union(frames[1], frames[0])
    return full_load(df)


def _published(sink_dir: str) -> tuple[list[str], set[tuple], int]:
    """A published snapshot read without Spark: column names, rows with
    their values formatted like the landed CSV fields, and row count
    (duplicates collapse in the set)."""
    t = pq.read_table(sink_dir).drop(["extracted_at"])

    def fmt(v):
        if v is None:
            return None
        return f"{v:.2f}" if isinstance(v, float) else str(v)

    cols = [[fmt(v) for v in c.to_pylist()] for c in t.columns]
    return t.column_names, set(zip(*cols)), t.num_rows


def check_snapshots(ctx, res: Result, pipe, lz, sink_path) -> None:
    """Every entity against the generator's ground truth; one entity,
    chosen by the seed, also against ``full_load`` over its files."""
    for entity in lz.entities():
        names, want = lz.expected(entity)
        got_names, got, n_rows = _published(sink_path(entity))
        if sorted(got_names) == sorted(names):
            pos = [got_names.index(n) for n in names]
            got = {tuple(r[i] for i in pos) for r in got}
        ok = sorted(got_names) == sorted(names) and got == want and n_rows == len(want)
        res.check(f"snapshot_equals_ground_truth.{entity}", ok,
                  None if ok else {"cols": got_names, "rows": n_rows, "keys": len(want),
                                   "missing": len(want - got), "extra": len(got - want)})
    entity = lz.entities()[ctx.seed % len(lz.entities())]
    got = pipe.read_snapshot(entity).drop("extracted_at")
    want = expected_snapshot(ctx.spark, os.path.join(lz.root, entity), datagen.DRIFT_COL)
    ok = sorted(got.columns) == sorted(want.columns)
    if ok:
        want = want.select(got.columns)
        ok = got.exceptAll(want).union(want.exceptAll(got)).isEmpty()
    res.check(f"snapshot_equals_full_load.{entity}", ok)


def run(ctx, t0: float) -> Result:
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark import sinks
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.names import (
        table_name_from_path,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.pipeline import EntityPipeline

    res = Result()
    tracer = ctx.tracer
    star = ctx.scratch("star")
    sizes = datagen.star_tables(star, ctx.seed, SCALE)
    lz = datagen.LandingZone(ctx.scratch("landing"), star, ctx.seed)
    lz.full_load_files()
    sink = ctx.scratch("sink")
    pipe = EntityPipeline(ctx.spark, lz.root, sink, ctx.scratch("state"))

    entity_walls: list[float] = []

    def timed_run_entity(entity):
        t = time.perf_counter()
        try:
            # looked up on the class each call, so traced nights see the
            # span-wrapped method
            return type(pipe).run_entity(pipe, entity)
        finally:
            entity_walls.append(time.perf_counter() - t)

    pipe.run_entity = timed_run_entity

    def tally(results) -> None:
        for r in results:
            res.attempted += 1
            if r.get("status") == "error":
                res.failed += 1
                print(f"entity failed: {r}", flush=True)

    tracer.enabled = False
    tally(pipe.run())  # the untimed full load
    full_load_s = time.perf_counter() - t0

    night_bytes: list[int] = []

    def night(i: int, traced: bool = False) -> float:
        before = lz.landed_bytes
        lz.night()
        night_bytes.append(lz.landed_bytes - before)
        ctx.settle()
        tracer.enabled = traced
        with ExitStack() as stack:
            if traced:
                stack.enter_context(traced_modules(tracer))
            start = time.perf_counter()
            with tracer.span("cdc.night", engine=True):
                results = pipe.run()
            wall = time.perf_counter() - start
        tracer.enabled = False
        tally(results)
        return wall

    warm = night(0)  # the first incremental night is still cold
    setup_s = time.perf_counter() - t0
    n_warm_bytes = len(night_bytes)

    untraced, traced, sink_bytes, step_groups = [], [], [], []

    def sample(i: int) -> float:
        is_traced = ctx.trace and i % 2 == 1
        del entity_walls[:]
        wall = night(i, is_traced)
        (traced if is_traced else untraced).append(wall)
        if not is_traced:
            step_groups.append(list(entity_walls))
        sink_bytes.append(sum(dir_bytes(sinks.current_version_path(
            os.path.join(sink, table_name_from_path(e)))) for e in lz.entities())
            if is_traced else 0)
        return wall

    # traced runs bracket the traced night with untraced ones, so the
    # overhead is not confounded with the warm-up trend
    ctx.measure(sample, min_samples=3)
    check_snapshots(ctx, res, pipe, lz, lambda e: sinks.current_version_path(
        os.path.join(sink, table_name_from_path(e))))

    n_ent = len(lz.entities())
    step_walls = [w for g in step_groups for w in g]
    res.end_to_end = {
        "setup_s": setup_s,
        "op_s": median(untraced),
        "step_s": median(step_walls),
    }
    res.detail.update(
        night_s=median(untraced),
        entity_s=median(step_walls),
        nights=len(untraced),
        night_samples=untraced,
        warmup_night_s=warm,
        full_load_s=full_load_s,
        entities=n_ent,
        star_rows=sizes,
        landing_rows={e: len(lz.live[e]) for e in lz.entities()},
    )
    res.self_check_halves(step_groups, ctx.bounds["step_s"])
    if ctx.trace:
        res.per_layer = layer_metrics(ctx, tracer, traced, untraced,
                                      night_bytes[n_warm_bytes:], sink_bytes)
    return res


def layer_metrics(ctx, tracer, traced, untraced, landed, sink_bytes) -> dict:
    nights = tracer.indices("cdc.night")
    per_night: dict[str, list[float]] = {}

    def add(key, value):
        per_night.setdefault(key, []).append(value)

    for n_idx in nights:
        inside = set(tracer.descendants(n_idx))
        sums: dict[str, float] = {}
        for i in inside:
            sp = tracer.spans[i]
            sums[sp.name] = sums.get(sp.name, 0.0) + tracer.self_time(i)
        reads = [i for i in inside if tracer.spans[i].name == "sources.read"]
        runs = [i for i in inside if tracer.spans[i].name == "pipeline.run_entity"]
        g = sums.get
        add("sources.list_s", g("sources.list", 0) + g("sources.prune", 0))
        add("sources.read_s", sum(tracer.spans[i].duration for i in reads))
        add("sources.read_jobs", sum(tracer.total_counts(i).get("jobs", 0) for i in reads))
        add("sources.state_s", g("sources.state_get", 0) + g("sources.state_commit", 0))
        add("pipeline.snapshot_s", g("pipeline.snapshot", 0))
        add("operators.plan_s", sum(g(k, 0) for k in (
            "operators.prepare", "operators.merge_cdc",
            "operators.resolve_snapshot", "operators.add_audit")))
        add("pipeline.execute_s", g("pipeline.run_entity", 0))
        add("pipeline.execute_tasks", sum(tracer.spans[i].counts.get("tasks", 0) for i in runs))
        add("pipeline.execute_shuffle_bytes",
            sum(tracer.spans[i].counts.get("shuffle_bytes", 0) for i in runs))
        add("sinks.publish_s", g("sinks.next_version_dir", 0) + g("sinks.publish_version", 0))
        add("trace.unaccounted_s", tracer.self_time(n_idx))
    traced_landed = [b for b, s in zip(landed, sink_bytes) if s]
    written = [s for s in sink_bytes if s]
    out = {k: median(v) for k, v in per_night.items()}
    out["sinks.bytes_written"] = median(written)
    out["sinks.write_amp"] = median([w / b for w, b in zip(written, traced_landed)])
    out.update(engine_metrics(tracer, nights, ctx.cpus))
    out["trace.op_overhead_s"] = median(traced) - median(untraced)
    return out
