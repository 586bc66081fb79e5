#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload per invocation.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload cdc_nightly --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``cdc_nightly``: incremental merges of a seeded Dynamics landing zone
  through ``EntityPipeline.run`` into the default pointer sink.
- ``curation``: rounds of a streaming ingest drain (one file per epoch,
  appending to the LSH and BM25 stores) followed by a seed-permuted
  pass over batch curation queries of the registry.

Each run starts a Spark ``local[n]`` session (n = min(4, nproc)),
generates its inputs from ``--seed``, pays the cold start with untimed
operations, then measures for ``--seconds`` seconds and checks the
outputs. End-to-end metrics (``--trace 0``) are medians of samples
taken with tracing off; ``--trace 1`` records spans around the
benchmark's calls into each module plus Spark status-store counts, and
prints the per-layer metrics, including the tracing overhead measured
in the same run.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
workload's own detail (named metrics, sizes, core counts, checks). All
scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit. The exit code is 1 when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_nightly", "curation")
MAX_CPUS = 4


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_block(values: dict[str, float], declared: list[dict]) -> dict:
    """Exactly the declared metrics, each with its unit. A declared
    metric the workload did not produce is an error, not a silent 0."""
    out = {}
    for m in declared:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']!r} was not produced")
        out[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout: Python and
    JVM temp files, Spark local dirs and stage checkpoints. Both JVMs
    (the launcher and the session JVM) skip the hsperfdata file they would
    otherwise write under /tmp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it
    (and with it the Python workers it forked): the JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    declared = load_declared()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _isolate(work)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        # an absent or broken package fails here, before any result
        from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        cpus = min(MAX_CPUS, nproc)
        spark = get_spark(f"perfbench-{args.workload}", cpus=str(cpus))
        spark.sparkContext.setLogLevel("ERROR")
        from harness import Context
        from layers import fill_untouched

        bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
        ctx = Context(args, spark, work, cpus, bounds)
        module = __import__(args.workload)
        res = module.run(ctx, t0)
        res.detail.update(
            workload=args.workload, seed=args.seed, cpus=cpus, nproc=nproc,
            trace=args.trace, total_s=time.perf_counter() - t0,
        )
        if args.trace:
            kind, values = "per_layer", fill_untouched(args.workload, res.per_layer)
        else:
            kind, values = "end_to_end", res.end_to_end
        line = {
            "correct": bool(res.correct),
            "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": metric_block(values, declared[kind]),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.stderr.flush()
    print(json.dumps({"detail": res.detail}, default=str))
    print(json.dumps(line), flush=True)
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
