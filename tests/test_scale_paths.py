"""Scale-path proofs that the SCALING.md claims hold physically:

1. The IVF "index" really is partition pruning: writing the corpus
   partitioned by bucket_id and probing nprobe buckets scans only those
   partitions' files (checked via the scan's input file count).
2. Streaming watermark really bounds state: rows later than the
   watermark are dropped, not aggregated.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
    assign_ivf_buckets,
)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_bucket_layout_prunes_partitions(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    bucketed = assign_ivf_buckets(emb, centroids)
    out = str(tmp_path / "ivf")
    bucketed.write.partitionBy("bucket_id").parquet(out)

    table = spark.read.parquet(out)
    n_total = table.select(F.input_file_name()).distinct().count()

    probe = [0, 3, 7, 11]
    probed = table.filter(F.col("bucket_id").isin(probe))
    n_probed = probed.select(F.input_file_name()).distinct().count()
    assert n_probed < n_total, "partition pruning did not reduce files scanned"

    # the pruned scan still returns exactly the probed buckets' vectors
    want = {r.vec_id for r in bucketed.filter(F.col("bucket_id").isin(probe)).collect()}
    got = {r.vec_id for r in probed.collect()}
    assert got == want and len(got) > 0

    # plan-level check: the partition filter reaches the scan
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "bucket_id" in plan


def test_embedding_near_dup_has_no_cross_join(spark):
    """q_dedup_embedding_cosine must generate candidates via the grid
    bucketing, never an all-pairs product: assert the physical plan has
    no cartesian/nested-loop join (the pre-fix plan had one)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        q_dedup_embedding_cosine,
    )

    df = q_dedup_embedding_cosine(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _brute_pairs(emb, threshold):
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        cosine,
    )

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select("id_a", "id_b")
    )
    return {(r.id_a, r.id_b) for r in brute.collect()}


def test_ivf_trained_centroids_recall(spark):
    """One decimal-exact k-means update must not cost recall vs the raw
    subsample seeds (and should usually help — trained means track the
    corpus distribution instead of the first N vectors)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        refine_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    truth = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(centroids):
        got = {}
        for r in ivf_topk(emb, centroids, queries, k=10, nprobe=4).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(q, set()) & n) / len(n) for q, n in truth.items()
        ) / len(truth)

    seeds = emb.filter(F.col("vec_id") < 16)
    r_seeds = recall(seeds)
    r_trained = recall(refine_centroids(emb, seeds))
    assert r_trained > 0
    assert r_trained >= r_seeds, f"training lost recall: {r_trained} < {r_seeds}"


def test_grid_near_dup_matches_bruteforce(spark):
    """Recall proof at fixture scale: the grid-bucketed pair set equals
    the brute-force all-pairs result exactly — at the derived k_dims AND
    at every explicit k in {2,3,4} (the knob must not cost recall)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    want = _brute_pairs(emb, 0.2)
    assert len(want) > 0
    for k in (None, 2, 3, 4):
        got = {
            (r.id_a, r.id_b)
            for r in grid_near_dup_pairs(emb, threshold=0.2, k_dims=k).collect()
        }
        assert got == want, f"k_dims={k} lost or invented pairs"


def test_grid_threshold_one_finds_verbatim_copies(spark):
    """threshold=1.0 (exact duplicates) must return the verbatim copies,
    pair-for-pair equal to brute force — the unguarded g=sqrt(2(1-t))=0
    NULLed every cell key and silently returned nothing."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    got = {
        (r.id_a, r.id_b)
        for r in grid_near_dup_pairs(corpus, threshold=1.0).collect()
    }
    want = _brute_pairs(corpus, 1.0)
    assert got == want and len(want) > 0


def test_grid_threshold_above_one_rejected(spark):
    import pytest

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="threshold"):
        grid_near_dup_pairs(emb, threshold=1.01)


def test_grid_k_dims_sizing_rule_and_occupancy(spark):
    """The sizing rule scales k with corpus size, and at the derived k
    the OBSERVED max cell occupancy stays under the target — the
    saturation probe that makes grid overload visible instead of
    silently going quadratic inside hot cells."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_cell_occupancy,
        grid_k_dims,
    )

    # monotone in corpus size; bounded by max_k; degenerate wide-cell
    # case (g >= spread) stays at min_k instead of paying 3^k probes
    assert grid_k_dims(500, 0.999, dim=64) == 2
    ks = [grid_k_dims(n, 0.999, dim=64) for n in (500, 10**6, 10**9, 10**12)]
    assert ks == sorted(ks) and ks[-1] <= 6 and ks[1] > 2
    assert grid_k_dims(10**9, 0.2, dim=64) == 2  # g > spread: gridding moot

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    k = grid_k_dims(n, 0.999, dim=64)
    occ = grid_cell_occupancy(emb, threshold=0.999, k_dims=k)
    max_occ = occ.agg(F.max("n")).first()[0]
    assert max_occ <= 64, f"derived k_dims={k} saturated: max occupancy {max_occ}"


def test_stream_watermark_drops_late_rows(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # batch 1: only the LAST day of events -> watermark advances near max ts
    max_ts = events.agg(F.max("ts")).first()[0]
    late_cut = events.agg(
        F.expr("max(ts) - INTERVAL 3 HOURS").alias("c")
    ).first().c
    recent = events.filter(F.col("ts") >= late_cut)
    old = events.filter(F.col("ts") < late_cut)  # will arrive LATE in batch 2
    recent.write.parquet(src, mode="append")

    def drain():
        stream = spark.readStream.schema(events.schema).parquet(src)
        # group by the window STRUCT — grouping by `.start` severs
        # watermark propagation and append mode is rejected.
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("h"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, e: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    # batch 2: the old rows arrive way behind the watermark
    old.write.parquet(src, mode="append")
    drain()

    emitted = spark.read.parquet(out).agg(F.sum("n")).first()[0] or 0
    # append mode only emits finalized windows; late-dropped rows can
    # never push the total to the full event count
    assert emitted < events.count()
    # every emitted window is from the recent range, none from the late data
    hours = {r.h for r in spark.read.parquet(out).collect()}
    assert all(h >= late_cut.replace(minute=0, second=0, microsecond=0) for h in hours)


def test_grid_hints_replace_derivation_scans(spark, monkeypatch):
    """n_rows/dim hints must fully replace the count()+first()
    derivation (no eager Spark job on the corpus) and yield the same
    pair set as the self-derived path."""
    from pyspark.sql import DataFrame

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n, d = emb.count(), len(emb.first()["embedding"])
    want = {
        (r.id_a, r.id_b)
        for r in grid_near_dup_pairs(emb, threshold=0.2).collect()
    }

    def _boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("hinted call ran an eager derivation scan")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "first", _boom)
    plan = grid_near_dup_pairs(emb, threshold=0.2, n_rows=n, dim=d)
    monkeypatch.undo()
    got = {(r.id_a, r.id_b) for r in plan.collect()}
    assert got == want and len(got) > 0


def test_export_shard_plan_has_no_global_sort_bottleneck(spark):
    """Shard assignment must be modulo-on-hash (per-row arithmetic), not
    ntile over a global window: assert the plan has no single-partition
    Exchange and no Window operator, and that assignments are identical
    under a different input partitioning (determinism under AQE
    re-plans / speculative re-execution)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.export_queries import (
        q_export_shards,
        q_export_split,
    )

    df = q_export_shards(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan.split("Sort")[0]  # agg side

    split = q_export_split(spark, SF_DIR)
    want = {(r.doc_id, r.split) for r in split.collect()}
    got = {
        (r.doc_id, r.split)
        for r in q_export_split(spark, SF_DIR).repartition(7).collect()
    }
    assert got == want
    # split fractions are within sanity bands of 80/10/10
    from collections import Counter

    frac = Counter(s for _, s in want)
    n = sum(frac.values())
    assert 0.7 < frac["train"] / n < 0.9
    assert frac["val"] > 0 and frac["test"] > 0


def test_matmul_topk_equals_bruteforce_no_pair_join(spark):
    """The BLAS partial-top-k path must return the identical ranking as
    the pair-join brute force, with a physical plan that contains NO
    join at all (queries ride the UDF closure) and whose pre-window row
    count is bounded by partitions * |Q| * k, not |Q| * |C|."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        matmul_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got_df = matmul_topk(emb, queries, k=10)
    got = {(r.query_id, r.neighbor_id, r.rank) for r in got_df.collect()}
    assert got == want and len(got) > 0

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join"):
        assert bad not in plan, f"unexpected {bad} in matmul plan"


def test_brute_force_max_queries_guard(spark):
    """The misuse guard: exceeding max_queries raises toward the scale
    paths instead of silently launching a quadratic pair join."""
    import pytest

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="matmul_topk"):
        brute_force_topk(emb, emb, max_queries=10)
    # under the cap: runs normally
    q1 = emb.filter(F.col("vec_id") == 0)
    assert brute_force_topk(emb, q1, k=3, max_queries=10).count() == 3


def test_matmul_ivf_layout_full_recall_at_high_nprobe(spark, tmp_path):
    """The matmul-shaped build + probe (argmax-kernel assignment,
    partition-pruned BLAS scoring): with nprobe == #centroids (probe
    everything) it must reproduce the exact matmul scan — same scan
    set, same scoring — proving the pruning is the ONLY approximation;
    at small nprobe recall stays high on the fixture corpus."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        build_ivf_layout,
        matmul_topk,
        matmul_topk_from_layout,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    layout = str(tmp_path / "ivf")
    build_ivf_layout(emb, centroids, layout)

    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in matmul_topk(emb, queries, k=10).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in matmul_topk_from_layout(
            spark, layout, centroids, queries, k=10, nprobe=16
        ).collect()
    }
    assert full == exact and len(full) > 0

    ann = {
        (r.query_id, r.neighbor_id)
        for r in matmul_topk_from_layout(
            spark, layout, centroids, queries, k=10, nprobe=4
        ).collect()
    }
    exact_pairs = {(q, n) for q, n, _ in exact}
    recall = len(ann & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"nprobe=4 recall collapsed: {recall}"


def test_matmul_topk_tie_break_exact_on_cloned_corpus(spark):
    """Duplicated corpora produce sim TIES at the top-k boundary
    (every replicated vector scores identically); the partial top-k
    must emit boundary ties so the global (sim desc, id asc) order is
    applied exactly — a bare argpartition[:k] drops the lower-id tie
    member whole batches at a time (caught at sf1 where recall read
    98.7% instead of 100%)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        matmul_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    # clone every vector twice -> three-way exact ties everywhere
    corpus = (
        emb.unionByName(emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding"))
        .unionByName(emb.select((F.col("vec_id") + 200000).alias("vec_id"), "embedding"))
        .repartition(16)
    )
    queries = emb.filter(F.col("vec_id") % 500 == 0)

    # compare modulo clone identity: per-batch BLAS blocking can differ
    # by 1 ulp for identical vectors in different batches, permuting
    # WITHIN a tie group (documented matmul_topk contract) — but the
    # dropped-tie bug lost whole tie members, which this set equality
    # still catches (the wrong CLONE GROUP appeared in its place).
    def base(r):
        return (r.query_id, r.neighbor_id % 100000, r.rank)

    want = {base(r) for r in brute_force_topk(corpus, queries, k=5).collect()}
    got = {base(r) for r in matmul_topk(corpus, queries, k=5).collect()}
    assert got == want and len(got) > 0


def test_semantic_dedup_kernel_equals_jvm_composition(spark):
    """The production SemDeDup kernel (argmax assignment + chunked
    per-cluster BLAS in applyInPandas) must produce the same pair set
    as the oracle-mirrored JVM composition, and must always contain
    every injected exact-clone pair (identical vectors cannot split
    across clusters)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        SEM_CENTROIDS,
        COSINE_DUP_MIN,
        EXACT_MOD,
        _embedding_corpus,
        q_dedup_semantic,
    )

    corpus = _embedding_corpus(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < SEM_CENTROIDS)

    want = {
        (r.cluster_id, r.id_a, r.id_b)
        for r in q_dedup_semantic(spark, SF_DIR).collect()
    }
    got = {
        (r.cluster_id, r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            corpus, seeds, threshold=COSINE_DUP_MIN, chunk=257
        ).collect()
    }
    assert got == want and len(got) > 0

    # every verbatim clone pair is present (never split across clusters)
    clones = {
        (r.vec_id, r.vec_id + 2_000_000)
        for r in emb.filter(F.col("vec_id") % EXACT_MOD == 0).collect()
    }
    found = {(a, b) for _, a, b in got}
    assert clones <= found


def test_semantic_deduped_routing_equals_raw_synthetic(spark):
    """r8 routing (exact vector dedup -> assign + within-cluster kernel
    over representatives -> fan-out) must produce the IDENTICAL
    (cluster_id, id_a, id_b) pair set as the raw SemDeDup kernel on a
    clone-heavy corpus — intra-clone pairs, clone-of-near-dup cross
    pairs, singleton clusters — and every pair's sim must carry the
    kernel's own float value."""
    import math

    import numpy as np

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_pairs_deduped,
    )

    rng = np.random.default_rng(8)
    base = rng.normal(size=(40, 16)).astype(np.float32)
    rows = []
    vid = 0
    for i, v in enumerate(base):
        copies = 4 if i % 3 == 0 else 1  # clone-heavy: every 3rd vector x4
        for _ in range(copies):
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        if i % 5 == 0:  # a near-dup (not bit-identical) of every 5th
            w = v.copy()
            w[0] += 1e-4
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = df.filter(F.col("vec_id") % 11 == 0)  # includes cloned seeds

    raw = {
        (r.cluster_id, r.id_a, r.id_b): r.sim
        for r in semantic_dedup_pairs(df, cents, threshold=0.999, chunk=7).collect()
    }
    routed_rows = semantic_dedup_pairs_deduped(
        df, cents, threshold=0.999, chunk=7
    ).collect()
    routed = {(r.cluster_id, r.id_a, r.id_b): r.sim for r in routed_rows}
    assert len(routed_rows) == len(routed)  # no duplicate pairs
    assert set(routed) == set(raw) and len(raw) > 40
    for key, sim in routed.items():
        assert math.isclose(sim, raw[key], rel_tol=0, abs_tol=1e-12), key


def test_semantic_deduped_routing_equals_raw_fixture(spark):
    """Four-way identity on the fixture-derived clone-heavy corpus the
    oracled query runs on (injected verbatim + nudged copies): raw JVM
    self-join (pre-r8, oracle-mirrored) == routed JVM (what
    q_dedup_semantic now runs) == raw BLAS kernel == routed BLAS
    kernel."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_pairs_deduped,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        COSINE_DUP_MIN,
        SEM_CENTROIDS,
        _embedding_corpus,
        _semantic_jvm_pairs_raw,
        q_dedup_semantic,
    )

    corpus = _embedding_corpus(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < SEM_CENTROIDS)
    legs = {
        "jvm_raw": _semantic_jvm_pairs_raw(spark, SF_DIR),
        "jvm_routed": q_dedup_semantic(spark, SF_DIR),
        "kernel_raw": semantic_dedup_pairs(
            corpus, seeds, threshold=COSINE_DUP_MIN
        ),
        "kernel_routed": semantic_dedup_pairs_deduped(
            corpus, seeds, threshold=COSINE_DUP_MIN
        ),
    }
    sets = {
        name: {(r.cluster_id, r.id_a, r.id_b) for r in df.collect()}
        for name, df in legs.items()
    }
    want = sets["jvm_raw"]
    assert len(want) > 0
    for name, got in sets.items():
        assert got == want, name


def test_grid_deduped_routing_equals_raw(spark):
    """r7 routing (exact vector dedup -> grid over representatives ->
    fan-out) must produce the IDENTICAL pair set as the raw grid
    operator on a clone-heavy corpus — including intra-clone-group
    pairs, clone-of-near-dup cross pairs, and singletons."""
    import numpy as np
    from pyspark.sql import functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
        grid_near_dup_pairs_deduped,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 16)).astype(np.float32)
    rows = []
    vid = 0
    for i, v in enumerate(base):
        copies = 3 if i % 3 == 0 else 1  # clone-heavy: every 3rd vector x3
        for _ in range(copies):
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        if i % 5 == 0:  # a near-dup (not bit-identical) of every 5th
            w = v.copy()
            w[0] += 1e-4
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.999, k_dims=2, n_rows=len(rows), dim=16)
    raw = {
        (r.id_a, r.id_b) for r in grid_near_dup_pairs(df, **kw).collect()
    }
    routed = [
        (r.id_a, r.id_b)
        for r in grid_near_dup_pairs_deduped(df, **kw).collect()
    ]
    assert len(routed) == len(set(routed))  # no duplicate pairs
    assert set(routed) == raw and len(raw) > 30


def test_grid_deduped_routing_degenerate_vectors_match_raw(spark):
    """Review finding: intra-clone pairs must follow the SAME
    verification as the raw operator. Under ANSI, a zero-norm vector
    makes BOTH paths raise loudly at the normalization divide (never a
    silent wrong answer, never a divergence); at threshold=1.0 ordinary
    clone pairs follow raw's fl(cosine(v,v)) decision in both paths."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.similarity import (
        grid_near_dup_pairs,
        grid_near_dup_pairs_deduped,
    )

    zero = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 8), (2, [1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    kw0 = dict(threshold=0.999, k_dims=2, n_rows=3, dim=8)
    # AQE may wrap the ANSI error (multiFailuresInStageMaterialization),
    # so match the SQLSTATE text rather than a specific exception class
    for fn in (grid_near_dup_pairs, grid_near_dup_pairs_deduped):
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            fn(zero, **kw0).collect()

    rows = [
        (0, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),  # ordinary clones
        (2, [5.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [0.1, 0.2, 0.7, 0.4, 0.5, 0.6, 0.7, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for thr in (0.999, 1.0):
        kw = dict(threshold=thr, k_dims=2, n_rows=len(rows), dim=8)
        raw = {(r.id_a, r.id_b) for r in grid_near_dup_pairs(df, **kw).collect()}
        routed = {
            (r.id_a, r.id_b)
            for r in grid_near_dup_pairs_deduped(df, **kw).collect()
        }
        assert routed == raw, (thr, routed, raw)


def test_minhash_routed_equals_unrouted_pipeline(spark):
    """Review finding: the routed _minhash_pairs needs an UNROUTED
    comparison on a clone-heavy corpus (groups of >= 3, 2x2 cross
    fan-out) — the md5-vs-fast twin test compares two routed paths and
    cancels fan-out bugs. Builds the raw full-corpus pipeline from the
    same primitives and compares (id_a, id_b, jacc) sets exactly."""
    from pyspark.sql import Row, functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import dedup as D

    base = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",  # near-dup of 0
        "completely different text about spark and parquet files",
        "completely different text about spark and parquet stores",  # near-dup of 2
        "an unrelated singleton document with its own words here",
    ]
    rows, did = [], 0
    for i, t in enumerate(base):
        copies = 3 if i in (0, 2) else (2 if i == 1 else 1)
        for _ in range(copies):
            rows.append(Row(doc_id=did, text=t))
            did += 1
    corpus = spark.createDataFrame(rows)

    def raw_pairs(c):
        sh = c.select("doc_id", D.shingles(F.col("text")).alias("sh")).filter(
            F.size("sh") > 0
        )
        sig = sh.select("doc_id", D.minhash_signature(F.col("sh")).alias("sig"))
        banded = sig.select(
            "doc_id",
            F.posexplode(D.band_keys(F.col("sig"))).alias("band_id", "band_hash"),
        )
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
            .filter(F.col("jacc") >= 0.5)
        )

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import dedup_queries as DQ

    want = {(r.id_a, r.id_b, round(r.jacc, 9)) for r in raw_pairs(corpus).collect()}

    # routed pipeline over the same corpus: monkey-route through the
    # plan module's private helper by substituting its corpus loader
    import unittest.mock as mock

    with mock.patch.object(DQ, "_corpus", lambda spark_, sf_: corpus):
        got_list = [
            (r.id_a, r.id_b, round(r.jacc, 9))
            for r in DQ._minhash_pairs(spark, "ignored", fast=False).collect()
        ]
    assert len(got_list) == len(set(got_list))  # no duplicate pairs
    assert set(got_list) == want and len(want) > 10
