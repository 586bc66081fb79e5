"""Similarity-search query family over ``embeddings`` (Tier B).

Outputs are (query_id, neighbor_id, rank) — ids and ranks, not float
scores, so the oracle comparison is robust to last-ulp float noise
while still verifying the actual ranking end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import kernel_spread, load_table
from ..operators import similarity as S

TOP_K = 10
QUERY_MOD = 100   # query set: every 100th vector
N_CENTROIDS = 16  # IVF: first N vectors are the (deterministic) centroids
N_PROBE = 4


def q_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the query subset against the corpus.

    r16: the corpus side rides the scan-split-conditioned spread
    (catalog.kernel_spread) — the |Q|·|C| cosine map stage ran as ONE
    task on the fixture's 1-split scan (0.63 s of CPU, the row's
    dominant stage); one tiny vector exchange spreads it when and only
    when the input is split-starved. None (plan unchanged) at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    n_spread = kernel_spread(spark, sf_dir, "embeddings")
    corpus = emb.repartition(n_spread) if n_spread else emb
    return S.brute_force_topk(corpus, queries, k=TOP_K)


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: TRAINED centroids (one decimal-exact k-means
    update over deterministic seeds — ``similarity.refine_centroids``),
    nearest-centroid bucketing, nprobe=4 probing.

    The seeds (first N vectors) are only the Lloyd initialization; the
    bucketing/probing run against the trained means, which track the
    corpus distribution instead of whatever the first N vectors happened
    to be (recall-vs-seeds test: ``test_ivf_trained_centroids_recall``).
    The decimal-exact mean makes training order-independent, so the
    DuckDB oracle reproduces the centroids bit-for-bit and the whole
    train → bucket → probe → rank pipeline stays hash-checked.

    The scale path: at 100 TB the corpus is written partitioned by
    bucket_id, so each query reads nprobe partitions, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS)
    trained = S.refine_centroids(emb, seeds)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return S.ivf_topk(emb, trained, queries, k=TOP_K, nprobe=N_PROBE)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats (exact integers only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
    )


def q_sim_ivf_layout_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN shape that SURVIVES at scale (registered as the driver
    ANN row per the round-6 sf10 measurements): centroids trained
    decimal-exact (oracle replays them bit-for-bit), the corpus
    assigned to buckets by the argmax BLAS kernel and PERSISTED
    ``partitionBy(bucket_id)`` (``build_ivf_layout``), then probed with
    matmul-shaped scoring over only the partition-pruned probe buckets
    (``matmul_topk_from_layout``). sf10 A/B (scripts/ab_ivf_layout.py):
    build 53 s once, probe 3.8 s vs 27.3 s exact scan, recall 1.0 —
    the per-pair-row probe variant (now an extra) LOSES to a full exact
    scan at that scale and is kept only as the all-JVM twin.

    The layout goes to a per-process temp dir CACHED BY sf_dir (the
    driver contract is (spark, sf_dir) -> DataFrame, so the build can't
    live anywhere durable): repeat calls against the same data — the
    correctness harness runs each query twice, sweeps run more — reuse
    the built index instead of persisting a fresh full-corpus copy per
    call, and an atexit hook removes the dirs so harness runs don't
    accumulate corpus-sized garbage in /tmp. Production callers build
    once via ``build_ivf_layout`` and amortize (break-even ~2 query
    batches, measured)."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS)
    trained = S.refine_centroids(emb, seeds)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    # cache key = sf_dir + a cheap data fingerprint (file list, sizes,
    # mtimes — a driver-side listdir, no Spark job): if the fixture at
    # this path is REGENERATED in-process (sweeps/harness reruns against
    # rewritten data), the stale layout is dropped and rebuilt instead
    # of silently serving results from the old index (r7 advice).
    entries = sorted(glob.glob(os.path.join(sf_dir, "embeddings.parquet*")))
    files = []
    for e in entries:  # the table may be a single file OR a part-dir
        if os.path.isdir(e):
            files.extend(
                sorted(
                    os.path.join(dp, f)
                    for dp, _d, fs in os.walk(e)
                    for f in fs
                )
            )
        else:
            files.append(e)
    stamp = tuple(
        (f, os.path.getsize(f), os.path.getmtime(f)) for f in files
    )
    # size guard (r7 verdict nit): the layout is a corpus-sized copy
    # under /tmp forced by the (spark, sf_dir) driver contract — refuse
    # loudly past a cap instead of silently filling the scratch disk;
    # production callers build once via build_ivf_layout to a managed
    # location and amortize.
    total_bytes = sum(s for _f, s, _m in stamp)
    cap_mb = int(os.environ.get("SPARK_GRAFT_IVF_LAYOUT_MAX_MB", "8192"))
    if total_bytes > cap_mb * 1024 * 1024:
        raise RuntimeError(
            f"q_sim_ivf_layout_topk: embeddings at {sf_dir} are "
            f"{total_bytes // (1024 * 1024)} MiB > "
            f"SPARK_GRAFT_IVF_LAYOUT_MAX_MB={cap_mb}; "
            "the per-process /tmp layout copy is a harness convenience — "
            "at this scale build the layout once with "
            "similarity.build_ivf_layout(out=<managed path>) and query "
            "via matmul_topk_from_layout"
        )
    key = (sf_dir, stamp)
    layout = _LAYOUT_CACHE.get(key)
    if layout is None:
        # evict stale entries for this sf_dir so they're never SERVED
        # again — but RETIRE the dirs instead of deleting (review
        # finding, r8): a DataFrame returned by an earlier call may
        # still reference those parquet files; deletion happens at
        # process exit, like every other layout dir.
        # bound the retirement list (review finding, r8): dirs retired
        # by a PREVIOUS eviction cycle FOR THIS sf_dir are deleted now —
        # a DataFrame still holding a two-rewrites-old layout after the
        # fixture changed again is not a supported lifetime, and without
        # the sweep a rewrite-heavy harness accumulates corpus-sized
        # dirs in /tmp until exit. The sweep is scoped per sf_dir
        # (r8 advice): building a layout for sf_dir B must not delete
        # sf_dir A's just-retired dirs — A's retirees live until A
        # itself is rebuilt, or process exit.
        for stale in _RETIRED_LAYOUTS.get(sf_dir, []):
            shutil.rmtree(stale, ignore_errors=True)
        _RETIRED_LAYOUTS[sf_dir] = [
            _LAYOUT_CACHE.pop(old_key)
            for old_key in [k for k in _LAYOUT_CACHE if k[0] == sf_dir]
        ]
        layout = tempfile.mkdtemp(prefix="spark_graft_ivf_layout_")
        global _GC_REGISTERED
        if not _GC_REGISTERED:
            _GC_REGISTERED = True
            atexit.register(
                lambda: [
                    shutil.rmtree(p, ignore_errors=True)
                    for p in list(_LAYOUT_CACHE.values())
                    + [d for ds in _RETIRED_LAYOUTS.values() for d in ds]
                ]
            )
        S.build_ivf_layout(emb, trained, layout)
        _LAYOUT_CACHE[key] = layout
    return S.matmul_topk_from_layout(
        spark, layout, trained, queries, k=TOP_K, nprobe=N_PROBE
    )


_LAYOUT_CACHE: dict[tuple, str] = {}
_RETIRED_LAYOUTS: dict[str, list[str]] = {}  # sf_dir -> retired dirs
_GC_REGISTERED = False


QUERIES = {
    "q_sim_bruteforce_topk": q_sim_bruteforce_topk,
    "q_sim_ivf_layout_topk": q_sim_ivf_layout_topk,
}


def q_embed_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-prep representative (operators/embed_prep.py): L2
    normalization verified through per-label summary scalars — the
    deviation of every normalized vector's norm from 1 must be ~0, and
    the pre-norm mass is summed exactly (decimal) so the whole check is
    engine-portable. (Array-valued outputs stay out of oracled queries:
    the hash harness normalizes top-level floats only.) Map-side
    per-row JVM expressions + one aggregate shuffle."""
    from ..functions.portable import dsum
    from ..operators import embed_prep as EP

    emb = load_table(spark, sf_dir, "embeddings")
    pre = F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    post = EP.l2_normalize(F.col("embedding"))
    dev = F.abs(F.sqrt(S.dot(post, post)) - F.lit(1.0))
    return (
        emb.select("label", pre.alias("pre"), dev.alias("dev"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.max("dev").alias("max_norm_dev"),
            dsum(F.col("pre"), scale=6).alias("sum_pre_norm"),
        )
        .orderBy("label")
    )


def q_sim_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k via per-partition BLAS matmul + partial top-k — the
    scale path for an exact dense scan (no |Q|x|C| pair rows; measured
    at sf1: ~2 s vs the JVM pair-join's 78 s, same oracle).

    NO kernel_spread here (r16 measured rejection): unlike the
    pair-join twin above, the Arrow-batched BLAS scan is so cheap per
    row that spreading it across defaultParallelism partitions costs
    more in Python-worker round-trips than the matmul saves — measured
    0.46 -> 0.71 s median at sf0.1 with the spread, so the base shape
    stays. At real scale the scan arrives multi-split anyway and each
    split gets its own Arrow task without an extra exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return S.matmul_topk(emb, queries, k=TOP_K)


EXTRA_QUERIES = {
    # array-scalar aggregates: registered sibling q_array_functions
    "q_embedding_stats": q_embedding_stats,
    # exact twin of registered q_sim_bruteforce_topk (same oracle); the
    # partial-top-k matmul shape that replaces it at large |Q|x|C|
    "q_sim_topk_matmul": q_sim_topk_matmul,
    # embedding-prep family representative (L2 normalize; PCA/whitening
    # are eigen-based and not SQL-expressible — invariant-tested in
    # tests/test_embed_prep.py)
    "q_embed_l2_normalize": q_embed_l2_normalize,
    # all-JVM IVF twin of registered q_sim_ivf_layout_topk (same
    # oracle): the in-query pair-join probe (proven non-viable at sf10
    # vs an exact scan — scripts/ab_ivf_layout.py), kept as the
    # decimal/JVM cross-check of the family
    "q_sim_ivf_topk": q_sim_ivf_topk,
}

_COS_CQ = S.cosine_sql("c.embedding", "q.qvec")
_COS_EC = S.cosine_sql("e.embedding", "c.cvec")
_COS_QC = S.cosine_sql("q.qvec", "c.cvec")
_COS_BQ = S.cosine_sql("b.embedding", "q.qvec")

ORACLES = {
    "q_sim_bruteforce_topk": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    ROW_NUMBER() OVER (
      PARTITION BY q.query_id
      ORDER BY {_COS_CQ} DESC, c.vec_id ASC
    ) AS rank
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank FROM scored WHERE rank <= {TOP_K}
""",
    "q_sim_ivf_topk": f"""
WITH seeds AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assign0 AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY {S.cosine_sql('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC
    ) AS rn
  FROM embeddings e CROSS JOIN seeds c
),
bucketed0 AS (
  SELECT vec_id, embedding, centroid_id AS bucket_id FROM assign0 WHERE rn = 1
),
dims AS (
  SELECT unnest(range(1, (SELECT MIN(LEN(embedding)) FROM embeddings) + 1)) AS i
),
-- one Lloyd update with an ORDER-INDEPENDENT (decimal-exact) mean:
-- mirrors similarity.refine_centroids bit-for-bit
coord AS (
  SELECT b.bucket_id, d.i AS pos,
    CAST(SUM(CAST(b.embedding[d.i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m
  FROM bucketed0 b CROSS JOIN dims d
  GROUP BY b.bucket_id, d.i
),
cent AS (
  SELECT bucket_id AS centroid_id, list(m ORDER BY pos) AS cvec
  FROM coord GROUP BY bucket_id
),
assign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_COS_EC} DESC, c.centroid_id ASC
    ) AS rn
  FROM embeddings e CROSS JOIN cent c
),
bucketed AS (
  SELECT vec_id, embedding, centroid_id AS bucket_id FROM assign WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
qprobe AS (
  SELECT q.query_id, q.qvec, c.centroid_id,
    ROW_NUMBER() OVER (
      PARTITION BY q.query_id
      ORDER BY {_COS_QC} DESC, c.centroid_id ASC
    ) AS pr
  FROM q CROSS JOIN cent c
),
probed AS (SELECT query_id, qvec, centroid_id FROM qprobe WHERE pr <= {N_PROBE}),
cand AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
    ROW_NUMBER() OVER (
      PARTITION BY p.query_id
      ORDER BY (SELECT {S.dot_sql('b.embedding', 'p.qvec')}
                / ({S.norm_sql('b.embedding')} * {S.norm_sql('p.qvec')})) DESC,
               b.vec_id ASC
    ) AS rank
  FROM probed p JOIN bucketed b ON b.bucket_id = p.centroid_id
  WHERE b.vec_id != p.query_id
)
SELECT query_id, neighbor_id, rank FROM cand WHERE rank <= {TOP_K}
""",
    "q_embedding_stats": """
SELECT label, COUNT(*) AS n_vecs,
  MIN(LEN(embedding)) AS min_dim, MAX(LEN(embedding)) AS max_dim,
  MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
FROM embeddings
GROUP BY label
""",
}

# matmul twin shares the brute-force oracle verbatim (same exact
# semantics, different physical shape); the registered layout probe
# shares the oracle of its in-query JVM twin
ORACLES["q_sim_topk_matmul"] = ORACLES["q_sim_bruteforce_topk"]
ORACLES["q_sim_ivf_layout_topk"] = ORACLES["q_sim_ivf_topk"]

from ..operators.embed_prep import l2_normalize_sql as _l2_sql  # noqa: E402
from ..functions.portable import dsum_sql as _dsum_sql  # noqa: E402

_PRE = S.norm_sql("embedding")
_POST = _l2_sql("embedding")
_POST_NORM = S.norm_sql("nv")

ORACLES["q_embed_l2_normalize"] = f"""
WITH x AS (
  SELECT label,
         {_PRE} AS pre,
         abs({_POST_NORM} - 1.0) AS dev
  FROM (
    SELECT label, embedding, {_POST} AS nv FROM embeddings
  )
)
SELECT label, COUNT(*) AS n_vecs, MAX(dev) AS max_norm_dev,
       {_dsum_sql('pre', scale=6)} AS sum_pre_norm
FROM x GROUP BY label ORDER BY label
"""

EXTRA_ORACLES = {name: ORACLES.pop(name) for name in list(EXTRA_QUERIES)}
