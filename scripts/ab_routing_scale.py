#!/usr/bin/env python
"""Third-decade evidence for the routing law (round-8 verdict #4):
raw vs routed legs of the near-dup families at a given scale point,
with pair-set fingerprints — run at sf0.1 / sf1 / sf10 to confirm the
routed fan-out stays OUTPUT-LINEAR while the raw legs go super-linear
on replicated corpora.

Families (each leg prints wall + pairs + hashsum):
- grid embedding: ``grid_near_dup_pairs`` vs ``grid_near_dup_pairs_deduped``
  over the injected-dup corpus (the registered query's shape)
- minhash fast: ``_minhash_pairs`` routed pipeline vs the
  same pipeline with routing DISABLED (clones enter banding directly)
- semantic JVM: ``_semantic_jvm_pairs_raw`` vs routed ``q_dedup_semantic``

Raw legs can be prohibitive at sf10 BY DESIGN (that is the point);
``--skip-raw FAMILY`` skips a raw leg and records why.

    python scripts/ab_routing_scale.py SF_DIR [--reps 2] [--skip-raw grid ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab_lib  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark  # noqa: E402


def fingerprint(df, cols):
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-raw", action="append", default=[],
                    choices=["grid", "minhash", "semantic"])
    args = ap.parse_args()

    spark = get_spark("d365-spark-ab-routing-scale")
    spark.sparkContext.setLogLevel("ERROR")

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import (
        table_num_rows,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
        grid_near_dup_pairs_deduped,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        COSINE_DUP_MIN,
        EMBED_DIM,
        NEAR_MOD,
        _embedding_corpus,
        _minhash_pairs,
        _semantic_jvm_pairs_raw,
        q_dedup_semantic,
    )

    sf = args.sf_dir
    emb_corpus = _embedding_corpus(spark, sf)
    base = table_num_rows(sf, "embeddings")
    n_hint = base + base // NEAR_MOD

    legs = {
        "grid_raw": (
            lambda: grid_near_dup_pairs(
                emb_corpus, COSINE_DUP_MIN, n_rows=n_hint, dim=EMBED_DIM
            ),
            ["id_a", "id_b"],
            "grid",
        ),
        "grid_routed": (
            lambda: grid_near_dup_pairs_deduped(
                emb_corpus, COSINE_DUP_MIN, n_rows=n_hint, dim=EMBED_DIM
            ),
            ["id_a", "id_b"],
            None,
        ),
        "minhash_raw": (
            lambda: _minhash_pairs_unrouted(spark, sf),
            ["id_a", "id_b"],
            "minhash",
        ),
        "minhash_routed": (
            lambda: _minhash_pairs(spark, sf, fast=True),
            ["id_a", "id_b"],
            None,
        ),
        "semantic_raw": (
            lambda: _semantic_jvm_pairs_raw(spark, sf),
            ["cluster_id", "id_a", "id_b"],
            "semantic",
        ),
        "semantic_routed": (
            lambda: q_dedup_semantic(spark, sf),
            ["cluster_id", "id_a", "id_b"],
            None,
        ),
    }

    out = {"sf_dir": sf, "reps": args.reps}
    arms = {}
    for name, (build, cols, raw_family) in legs.items():
        if raw_family in args.skip_raw:
            out[name] = {"skipped": "prohibitive at this scale by design"}
            continue
        arms[name] = lambda _ctx, b=build, c=cols: fingerprint(b(), c)

    # r10 verdict #5 retrofit: the per-leg rep loop above used to run
    # each leg's reps back to back — on this drifting host, sequential
    # arms flatter whichever ran later (the staging-backend run-1/run-2
    # contrast, SCALING.md). One untimed warm-up cycle + per-cycle
    # interleaving lands drift on every leg equally.
    timings, last = ab_lib.warmup_interleaved(
        arms,
        args.reps,
        log=lambda m: print(f"# {m}", file=sys.stderr),
    )
    for name, times in timings.items():
        n, h = last[name]
        out[name] = {
            "median_s": round(statistics.median(times), 2),
            "min_s": round(min(times), 2),
            "max_s": round(max(times), 2),
            "pairs": n,
            "hashsum": h,
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def _minhash_pairs_unrouted(spark, sf_dir):
    """The pre-r7 shape: banding over the FULL corpus, no exact-dedup
    pre-pass (kept here, not in the package, which only has the routed
    pipeline). Reproduces the original full-corpus pipeline the r7
    oracle mirrors."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import (
        dedup as D,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.stage import (
        lazy_stage,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        JACCARD_MIN,
        _corpus,
    )

    corpus = _corpus(spark, sf_dir)
    sh = (
        corpus.select("doc_id", D.shingles(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)
        .transform(lazy_stage)
    )
    sig = sh.select("doc_id", D.minhash_signature_fast(F.col("sh")).alias("sig"))
    banded = sig.select(
        "doc_id",
        F.posexplode(D.band_keys(F.col("sig"))).alias("band_id", "band_hash"),
    ).transform(lazy_stage)
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return (
        cands.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a", "id_b", D.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jacc")
        )
        .filter(F.col("jacc") >= JACCARD_MIN)
    )


if __name__ == "__main__":
    main()
