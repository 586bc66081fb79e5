#!/usr/bin/env python
"""Two-scale bench harness: measures how each headline query's wall
time grows from one scale factor to the next (default sf0.1 ->
localdata/sf1, generated by ``scripts/gen_scale.py``).

Why this exists: at sf0.1 every headline query runs in under ~2 s, so
the per-round bench is dominated by fixed Spark job overhead and cannot
distinguish a plan that scales linearly from one that goes quadratic
(SCALING.md's long-standing caveat). Running BOTH scales back-to-back
in one process pass makes the ratio meaningful: the fixed overhead
cancels, and a query whose ratio tracks the data growth (<= ~10x for a
10x scale-up, usually less because 32 cores are underutilized at
sf0.1) is demonstrably linear, while a superlinear plan sticks out
immediately (q_sim_bruteforce_topk's by-design O(|Q|x|C|) shows ~50x —
both sides scale — which is exactly what its matmul/IVF scale paths
are for, measured here alongside).

Usage::

    python scripts/bench_scale.py [--small /root/testdata/sf0.1]
                                  [--large /root/repo/localdata/sf1]
                                  [--reps 3]

Prints one markdown table (for SCALING.md) and one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402  (repo-root import)
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark  # noqa: E402

# scale-path twins measured alongside the headline set: the exact
# matmul replacement for the quadratic pair-join, and the in-query IVF
# ANN path
EXTRA_SCALE = ["q_sim_topk_matmul", "q_sim_ivf_topk"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--large", default="/root/repo/localdata/sf1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--skip",
        default="",
        help="comma-separated query names to exclude (e.g. the by-design "
        "quadratic pair join at scale points where it would take hours)",
    )
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query names to measure INSTEAD of the "
        "headline+scale set (any registered or extra query name)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    spark = get_spark("d365-spark-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**entry_mod.queries(), **entry_mod.extra_queries()}
    skip = {n for n in args.skip.split(",") if n}
    pool = (
        [n for n in args.only.split(",") if n]
        if args.only
        else HEADLINE + EXTRA_SCALE
    )
    if args.only:
        unknown = [n for n in pool if n not in queries]
        if unknown:
            raise SystemExit(
                f"--only names not in the query registry: {unknown} "
                "(explicitly requested names must exist — a typo would "
                "otherwise produce a silent empty run)"
            )
    names = [n for n in pool if n in queries and n not in skip]

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import (
        TABLES,
        load_table,
    )

    results: dict[str, dict[str, float]] = {}
    for sf_dir in (args.small, args.large):
        # same warm-up discipline as bench.py: non-headline query +
        # table pre-touch so no timed query eats cold-start costs
        queries["q_rollup_sales"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        for t in TABLES:
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        for name in names:
            samples = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
            results.setdefault(name, {})[sf_dir] = round(
                statistics.median(samples), 3
            )

    print(f"\n| query | {args.small} (s) | {args.large} (s) | ratio |")
    print("|---|---|---|---|")
    ratios = {}
    for name in names:
        s, l = results[name][args.small], results[name][args.large]
        ratio = round(l / s, 1) if s > 0 else float("inf")
        ratios[name] = ratio
        print(f"| {name} | {s} | {l} | {ratio}x |")
    print()
    print(
        json.dumps(
            {
                "metric": "scale_ratio",
                "small": args.small,
                "large": args.large,
                "reps": args.reps,
                "timings": results,
                "ratios": ratios,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
