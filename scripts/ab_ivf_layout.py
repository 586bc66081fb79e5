#!/usr/bin/env python
"""A/B: in-query exact matmul scan vs a PERSISTED IVF layout, at the
configuration where IVF is supposed to win — centroid count scaled
~sqrt(|corpus|) so the probed fraction shrinks with scale, and the
bucket assignment paid ONCE at build time instead of per query batch.

The sf10 bench showed fixed-16-centroid in-query IVF losing to the
exact matmul scan (it probes a constant 1/4 of the corpus AND re-pays
assignment per run). This script measures the honest trade:

  build:   train centroids on a sample, assign + write partitionBy(bucket)
  probe:   per query batch, read ONLY the probed bucket partitions
  baseline: matmul_topk full exact scan per query batch

and prints the break-even batch count (build_cost / per-batch saving).

Usage::

    python scripts/ab_ivf_layout.py [--sf-dir /root/repo/localdata/sf10]
                                    [--centroids 0 (auto-sqrt)] [--nprobe 32]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/localdata/sf10")
    ap.add_argument("--centroids", type=int, default=0)
    ap.add_argument("--nprobe", type=int, default=32)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import (
        similarity as S,
    )

    spark = get_spark("ab-ivf-layout")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, args.sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    n_cent = args.centroids or max(16, int(math.sqrt(n)))
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    work = tempfile.mkdtemp(prefix="ab_ivf_")
    try:
        # ---- build (once): sample-train + assign + partitioned write
        t0 = time.perf_counter()
        seeds = emb.filter(F.col("vec_id") < n_cent)
        cents = S.refine_centroids(emb.sample(0.1, seed=42), seeds)
        cents = cents.localCheckpoint()
        layout = os.path.join(work, "ivf")
        S.build_ivf_layout(emb, cents, layout)
        build_s = time.perf_counter() - t0

        # ---- probe per query batch against the persisted layout
        # (matmul-shaped scoring: partition-pruned scan, one BLAS call
        # per batch x bucket — the pair-join probe variant lost to the
        # full exact scan despite reading 7% of the corpus)
        t0 = time.perf_counter()
        got = S.matmul_topk_from_layout(
            spark, layout, cents, queries, k=args.k, nprobe=args.nprobe
        )
        got.write.format("noop").mode("overwrite").save()
        probe_s = time.perf_counter() - t0

        # ---- baseline: exact matmul full scan for the same batch
        t0 = time.perf_counter()
        S.matmul_topk(emb, queries, k=args.k).write.format("noop").mode(
            "overwrite"
        ).save()
        scan_s = time.perf_counter() - t0

        # recall of the ANN result vs the exact scan
        exact = {
            (r.query_id, r.neighbor_id)
            for r in S.matmul_topk(emb, queries, k=args.k).collect()
        }
        ann = {(r.query_id, r.neighbor_id) for r in got.collect()}
        recall = len(ann & exact) / len(exact)

        saving = scan_s - probe_s
        breakeven = math.inf if saving <= 0 else build_s / saving
        print(
            json.dumps(
                {
                    "corpus": n,
                    "centroids": n_cent,
                    "nprobe": args.nprobe,
                    "probed_fraction": round(args.nprobe / n_cent, 4),
                    "build_s": round(build_s, 2),
                    "probe_per_batch_s": round(probe_s, 2),
                    "exact_scan_per_batch_s": round(scan_s, 2),
                    "recall_vs_exact": round(recall, 4),
                    "breakeven_batches": (
                        round(breakeven, 1) if breakeven != math.inf else "never"
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
