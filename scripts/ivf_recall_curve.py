#!/usr/bin/env python
"""Recall-vs-nprobe for the persisted IVF layout on a CLUSTERED corpus
(round-8 verdict #4).

The sf-fixture recall of 1.0 is on clone-amplified uniform data, where
the nearest centroid always holds the true neighbors — it cannot show
where a small ``nprobe`` loses. This harness builds a corpus with
genuine cluster structure AND cross-blob near-neighbors (paired
Gaussian blobs whose centers sit close together, so a query's true
top-k routinely straddles two buckets), trains centroids with the
repo's own Lloyd step, sweeps ``nprobe`` over
``matmul_topk_from_layout``, and prints recall@k against brute-force
numpy ground truth.

Probe sets NEST as nprobe grows (stable argsort), so recall is monotone
non-decreasing by construction — the sweep shows WHERE the curve bends,
which is what the default must be judged against.

Usage: python scripts/ivf_recall_curve.py [n_per_blob] [dim]
Results are recorded in SCALING.md; the pytest floor lives in
tests/test_advice_r9.py::test_ivf_recall_floor_on_clustered_corpus.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def clustered_corpus(
    n_blobs: int = 8,
    n_per_blob: int = 250,
    dim: int = 16,
    twin_offset: float = 0.35,
    sigma: float = 0.18,
    seed: int = 7,
) -> np.ndarray:
    """Paired Gaussian blobs: ``n_blobs`` anchor centers on the unit
    sphere, each with a TWIN center ``twin_offset`` away — points near
    the anchor/twin boundary have true nearest neighbors in BOTH blobs,
    which is exactly the case a too-small nprobe loses. Returns
    (2 * n_blobs * n_per_blob, dim) float64."""
    rng = np.random.default_rng(seed)
    anchors = rng.normal(size=(n_blobs, dim))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    twins = anchors + twin_offset * rng.normal(size=(n_blobs, dim)) / np.sqrt(dim)
    centers = np.concatenate([anchors, twins])
    pts = np.concatenate(
        [c + sigma * rng.normal(size=(n_per_blob, dim)) for c in centers]
    )
    return pts


def true_topk(X: np.ndarray, q_idx: np.ndarray, k: int) -> dict[int, set]:
    """Brute-force cosine top-k (self excluded), ties broken toward the
    smaller id — the same order the Spark rank window uses."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn[q_idx] @ Xn.T
    out: dict[int, set] = {}
    for row, qi in enumerate(q_idx):
        s = sims[row].copy()
        s[qi] = -np.inf
        # sort by (-sim, id): argsort is stable, ids ascend naturally
        top = np.argsort(-s, kind="stable")[:k]
        out[int(qi)] = set(int(i) for i in top)
    return out


def recall_curve(
    spark,
    X: np.ndarray,
    n_centroids: int = 12,
    k: int = 10,
    n_queries: int = 60,
    nprobes: tuple = (1, 2, 4, 8),
    lloyd_rounds: int = 2,
) -> dict[int, float]:
    """Build the IVF layout with the repo's own pipeline (seed
    centroids -> Lloyd refinement -> persisted partitionBy(bucket_id)
    layout), probe at each nprobe, and return {nprobe: mean recall@k}.
    ``n_centroids`` is deliberately mismatched to the blob count so
    buckets cannot align 1:1 with the true clusters."""
    import shutil
    import tempfile

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import (
        similarity as S,
    )

    n = len(X)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint()
    # float32 round-trip: ground truth must see the same values Spark does
    Xf = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )

    cents = emb.filter(f"vec_id < {n_centroids}")
    for _ in range(lloyd_rounds):
        cents = S.refine_centroids(emb, cents).localCheckpoint()

    q_idx = np.arange(0, n, max(1, n // n_queries))[:n_queries]
    queries = emb.filter(
        emb.vec_id.isin([int(i) for i in q_idx])
    ).localCheckpoint()
    truth = true_topk(Xf, q_idx, k)

    layout = tempfile.mkdtemp(prefix="ivf_recall_curve_")
    try:
        S.build_ivf_layout(emb, cents, layout)
        curve: dict[int, float] = {}
        for nprobe in nprobes:
            got: dict[int, set] = {}
            res = S.matmul_topk_from_layout(
                spark, layout, cents, queries, k=k, nprobe=nprobe
            )
            for r in res.collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            curve[nprobe] = float(
                np.mean([len(got.get(q, set()) & truth[q]) / k for q in truth])
            )
        return curve
    finally:
        shutil.rmtree(layout, ignore_errors=True)


def main() -> None:
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark

    n_per_blob = int(sys.argv[1]) if len(sys.argv) > 1 else 250
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("ivf-recall-curve")
    spark.sparkContext.setLogLevel("ERROR")
    X = clustered_corpus(n_per_blob=n_per_blob, dim=dim)
    print(f"corpus: {len(X)} vectors, dim {dim}, 8 anchor+8 twin blobs")
    curve = recall_curve(spark, X)
    print(f"{'nprobe':>8}{'recall@10':>12}")
    for nprobe, rec in sorted(curve.items()):
        print(f"{nprobe:>8}{rec:>12.4f}")
    spark.stop()


if __name__ == "__main__":
    main()
