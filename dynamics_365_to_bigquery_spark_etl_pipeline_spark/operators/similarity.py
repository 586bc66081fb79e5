"""Similarity search over embedding columns (Tier B, BASELINE north
star): brute-force cosine top-k as the exactness baseline, and an
IVF-style bucketed variant as the 100 TB scale path.

Cosine is computed JVM-side with higher-order array functions
(``zip_with`` + ``aggregate``) in double precision — no Python UDF, no
Arrow transfer, stays in whole-stage codegen.

Scale design:
- Brute force is a broadcast of the (small) query set against the fully
  partitioned corpus — embarrassingly parallel, no shuffle except the
  final per-query top-k (one window on query_id).
- IVF: centroids are a deterministic subsample; every vector gets a
  nearest-centroid bucket id in one broadcast pass. A query probes only
  its ``nprobe`` nearest buckets — at scale the corpus is partitioned
  by bucket id, so probing prunes partitions instead of scanning.
"""

from __future__ import annotations

import itertools
import math

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import fan_out_clones
from .stage import stage


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB mirror: element products summed in list order (doubles)."""
    return (
        f"list_aggregate(list_transform(range(1, LEN({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, window top-k.

    Returns (query_id, neighbor_id, rank); the float score is kept out
    of the comparable output (rank is order-robust, scores are FP).

    O(|Q|·|C|) by definition — the exact twin of the pruned paths. The
    cost at scale is NOT the arithmetic but materializing all |Q|·|C|
    pair rows through the join + window (measured at sf1: unrolling the
    dot into a codegen expression and pre-computing norms changed
    nothing — 78 s either way, it's row plumbing). When the pair count
    is large, use :func:`matmul_topk`, which never materializes pairs
    (per-partition BLAS + partial top-k; same exact semantics), or the
    IVF bucketed path.

    ``max_queries`` is the misuse guard: when set, the query side is
    counted (one early-stopping ``limit(n+1)`` job, cheap next to the
    pair join it gates) and exceeding it raises with a pointer at the
    scale paths, instead of silently launching a pair join 10x bigger
    than intended. Left None by default so the guard never adds a job
    to callers that know their workload."""
    from pyspark.sql import Window

    if max_queries is not None:
        n_q = queries.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"brute_force_topk: query side exceeds max_queries="
                f"{max_queries}; the |Q|x|C| pair join is quadratic — "
                "use matmul_topk (exact) or ivf_topk (ANN) instead"
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("cvec"), F.col("qvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def matmul_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k that never materializes the |Q|·|C| pair set.

    The brute-force join shape dies at scale on ROW PLUMBING: every
    (query, corpus) pair becomes a physical row carrying two vectors,
    then a window sorts them all (measured: 78 s for 200×20k pairs at
    sf1 vs ~2 s here, same answer). Instead:

    1. the query matrix (small by contract — it rides a broadcast in
       every variant) is collected once and attached to each corpus
       partition via ``mapInPandas``'s closure — the same bytes a
       broadcast join ships, minus the join;
    2. each Arrow batch computes cosine(C_batch, Q) as ONE BLAS matmul
       (numpy float64) and emits only its LOCAL top-k rows per query —
       output is O(#batches · |Q| · k), not O(|Q|·|C|);
    3. a final window over those few candidate rows yields the global
       top-k. Exact, not approximate: every corpus row was scored.

    At 1000 executors this is embarrassingly parallel over corpus
    partitions with a k-row-per-query-per-partition tail — the shape a
    dense exact scan should have. Ties: scores are float64 matmuls, so
    last-ulp sums may order differently from the element-fold JVM twin;
    ranks break ties by neighbor_id ascending, same as the twin."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int"
        )
    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    Q = np.array([r.qvec for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, sim double"

    def score_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = Cn @ Qn.T  # (batch, |Q|) — one BLAS call
            # self-match mask (same id on both sides)
            sims[ids[:, None] == q_ids[None, :]] = -np.inf
            ci, qi = _local_topk_with_ties(sims, k)
            s = sims[ci, qi]
            keep = np.isfinite(s)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi[keep]],
                    "neighbor_id": ids[ci[keep]],
                    "sim": s[keep],
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# Lower bound on the grid cell width: at threshold == 1.0 the geometric
# width sqrt(2(1-t)) is 0, which would NULL every cell key (x/0) and
# silently return no pairs — violating the recall guarantee exactly at
# the exact-duplicate setting. Verbatim copies have IDENTICAL normalized
# coordinates (same floats, same arithmetic), so any positive width puts
# them in the same cell; 1e-7 keeps floor(x/g) within int range (|x|<=1).
GRID_MIN_CELL_WIDTH = 1e-7


def grid_k_dims(
    n_rows: int,
    threshold: float,
    dim: int | None = None,
    target_occupancy: int = 64,
    min_k: int = 2,
    max_k: int = 6,
) -> int:
    """Sizing rule for ``grid_near_dup_pairs``: the smallest ``k_dims``
    whose EXPECTED cell occupancy ``n_rows * (g / s)^k`` is under
    ``target_occupancy``.

    ``g = sqrt(2(1-t))`` is the cell width; ``s`` is the effective
    coordinate spread — for random unit vectors in ``dim`` dimensions a
    normalized coordinate has stddev ``1/sqrt(dim)``, so ~all mass lies
    in a band of width ``6/sqrt(dim)`` (capped at the full range 2).
    Each added dimension divides occupancy by ``s/g`` but multiplies the
    probe explode by 3, so ``max_k`` caps the fan-out (3^6 = 729 probe
    rows of bare int structs per vector — cheap next to the vectors
    themselves). Verification cost per cell is O(occupancy²), hence the
    modest default target.
    """
    g = max(math.sqrt(2.0 * (1.0 - threshold)), GRID_MIN_CELL_WIDTH)
    s = 2.0 if not dim else min(2.0, 6.0 / math.sqrt(dim))
    if g >= s:
        # cell wider than the data spread: every dimension is ~one cell,
        # so extra dimensions buy no selectivity — don't pay 3^k probes.
        return min_k
    k = min_k
    while k < max_k and n_rows * (g / s) ** k > target_occupancy:
        k += 1
    return k


def _grid_cell_width(threshold: float) -> float:
    if threshold > 1.0:
        raise ValueError(f"cosine threshold must be <= 1.0, got {threshold}")
    return max(math.sqrt(2.0 * (1.0 - threshold)), GRID_MIN_CELL_WIDTH)


def _grid_cell_keys(
    corpus: DataFrame, g: float, k_dims: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, c0..c{k-1}): the first ``k_dims`` normalized coordinates
    quantized to cells of width ``g``."""
    vec = F.col(vec_col)
    nrm = norm(vec)
    cell_cols = [
        F.floor(F.element_at(vec, i + 1).cast("double") / nrm / F.lit(g))
        .cast("int")
        .alias(f"c{i}")
        for i in range(k_dims)
    ]
    return corpus.select(F.col(id_col).alias("id"), *cell_cols)


def grid_cell_occupancy(
    corpus: DataFrame,
    threshold: float,
    k_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Occupancy per grid cell — the observability hook for the sizing
    rule: if ``max(n)`` grows past ``target_occupancy`` the corpus has
    outgrown ``k_dims`` (verification degenerates toward all-pairs
    within hot cells) and ``k_dims`` should be raised."""
    keyed = _grid_cell_keys(corpus, _grid_cell_width(threshold), k_dims, id_col, vec_col)
    return keyed.groupBy(*[f"c{i}" for i in range(k_dims)]).agg(F.count("*").alias("n"))


def grid_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    k_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= ``threshold``) WITHOUT an
    all-pairs cross join: grid-bucketed candidate generation with
    guaranteed recall.

    For unit vectors, cos(u,v) >= t implies ||u-v|| <= sqrt(2(1-t)) = g,
    so every coordinate of u-v is bounded by g. Quantizing the first
    ``k_dims`` NORMALIZED coordinates to cells of size g therefore puts
    any true pair within +-1 cell per dimension. Side A keeps its own
    cell key; side B explodes to its 3^k neighbor cells; the equi-join
    on the cell key yields a candidate superset of all true pairs
    (recall = 1 by construction — this is geometric bucketing, not
    probabilistic LSH), and exact cosine prunes false candidates.

    Scale: candidate generation is one 3^k-way explode of (id, cell)
    keys (no vector payload) + one skew-tolerant shuffle on the cell
    key; vectors are joined back for the exact-cosine verify on
    candidates only — the same pairs-then-verify shape as the MinHash
    banding. ``k_dims=None`` derives the dimension count from corpus
    size and threshold via ``grid_k_dims`` (denser corpus → more grid
    dimensions → geometrically smaller cells); see SCALING.md for the
    sizing rule and ``grid_cell_occupancy`` for the saturation probe.

    ``threshold=1.0`` (exact duplicates) is supported: the cell width is
    clamped to ``GRID_MIN_CELL_WIDTH`` so identical vectors still share
    a cell (bit-identical duplicates only — see SCALING.md for the exact
    guarantee at this edge); ``threshold > 1.0`` raises.

    ``n_rows``/``dim`` are derivation HINTS for ``k_dims=None``: without
    them the derivation must run ``count()`` + ``first()`` — two extra
    table passes that at 100 TB cost a full scan just to size a
    parameter. Production callers should pass explicit ``k_dims`` or at
    least ``n_rows`` (catalog/footer statistics); an order-of-magnitude
    estimate is fine, the rule is logarithmic in ``n_rows``.
    """
    g = _grid_cell_width(threshold)
    if k_dims is None:
        if dim is None:
            first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = first["d"] if first else None
        if n_rows is None:
            n_rows = corpus.count()
        k_dims = grid_k_dims(n_rows, threshold, dim=dim)
    keyed = _grid_cell_keys(corpus, g, k_dims, id_col, vec_col)
    a = keyed.select(F.col("id").alias("id_a"), *[f"c{i}" for i in range(k_dims)])
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    *[
                        (F.col(f"c{i}") + F.lit(off[i])).alias(f"p{i}")
                        for i in range(k_dims)
                    ]
                )
                for off in itertools.product((-1, 0, 1), repeat=k_dims)
            ]
        )
    )
    b = keyed.select(F.col("id").alias("id_b"), probes.alias("p")).select(
        "id_b", *[F.col(f"p.p{i}").alias(f"c{i}") for i in range(k_dims)]
    )
    # A pair (a < b) matches exactly once: b's 3^k probe cells are
    # distinct and exactly one equals a's home cell — no distinct needed.
    pairs = a.join(b, [f"c{i}" for i in range(k_dims)]).filter(
        F.col("id_a") < F.col("id_b")
    ).select("id_a", "id_b")
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select("id_a", "id_b")
    )


def exact_vector_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The exact-dedup pre-pass shared by every routed vector operator
    (grid, SemDeDup kernel, and the oracled SemDeDup query) — one
    implementation so the collision-verification and staging discipline
    can't drift across copies (review finding, r8).

    Collapse bit-identical vectors: group on a 64-bit vector hash, then
    verify TRUE array equality inside the group so a hash collision can
    never merge distinct vectors; representative = min id. Returns
    ``(reps, slim)``:

    - ``reps`` — one row per distinct vector: (_rid, _gh, _rv);
    - ``slim`` — the (representative, member) id map: (_rid, _gid),
      two longs per row — the only thing the output fan-out shuffles.

    Both are ``stage()``d (backend per env knob): each feeds several consumers and
    ReuseExchange does not fire across those self-joins (different
    downstream keys), so without the cut every consumer re-runs the
    dedup groupBy/join subtree; the stage materializes on first action,
    never at plan-construction time."""
    mem = corpus.select(
        F.col(id_col).alias("_gid"),
        F.col(vec_col).alias("_gv"),
        F.xxhash64(F.col(vec_col)).alias("_gh"),
    )
    reps = (
        mem.groupBy("_gh", "_gv")
        .agg(F.min("_gid").alias("_rid"))
        .select("_rid", "_gh", F.col("_gv").alias("_rv"))
        .transform(stage)
    )
    slim = (
        mem.join(reps, "_gh")
        .where(F.col("_gv") == F.col("_rv"))
        .select("_rid", "_gid")
        .transform(stage)
    )
    return reps, slim


def grid_near_dup_pairs_deduped(
    corpus: DataFrame,
    threshold: float,
    k_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """``grid_near_dup_pairs`` routed through EXACT vector dedup first —
    the embedding-family twin of ``fuzzy.fuzzy_join_deduped``, and the
    cure for the same disease: replicated corpora (CDC re-ingests,
    cloned scale fixtures) make near-dup output quadratic in the clone
    count, and every per-pair stage pays it. Pair-set IDENTICAL to the
    raw operator (tested):

    1. collapse bit-identical vectors (group on a 64-bit vector hash,
       then verify true array equality inside the group so a hash
       collision can never merge distinct vectors), representative =
       min id;
    2. run the grid candidate generation + exact-cosine verify over
       representatives only — the 3^k explode, the cell join, and the
       cosine verification all pay |distinct vectors|;
    3. fan out through ``dedup.fan_out_clones``; clone groups emit
       intra pairs only where the rep passes the kernel's own
       cosine(v, v) >= threshold check (see the gate below).

    Measured sf1 (10x-cloned fixture + injected copies, 143,500 result
    pairs): 143.1 s -> 3.1 s (46x), identical pair set by count +
    hashsum at sf0.01/sf0.1/sf1 (SCALING.md round 7)."""
    reps, slim = exact_vector_dedup(corpus, id_col, vec_col)

    rep_pairs = grid_near_dup_pairs(
        reps.select(F.col("_rid").alias(id_col), F.col("_rv").alias(vec_col)),
        threshold,
        k_dims=k_dims,
        id_col=id_col,
        vec_col=vec_col,
        n_rows=n_rows,
        dim=dim,
    )
    # Intra-clone pairs go through the SAME verification the raw
    # operator applies to an identical-vector pair: cosine(v,v) is the
    # exact expression raw evaluates for two equal arrays, so a
    # zero-norm vector (0/0 -> NaN, raw drops the pair) or a
    # threshold=1.0 corpus where fl(cosine(v,v)) rounds below 1.0
    # behaves IDENTICALLY routed and raw — emitting unconditionally
    # would silently widen the contract on degenerate inputs.
    self_pass = reps.filter(
        cosine(F.col("_rv"), F.col("_rv")) >= F.lit(threshold)
    ).select("_rid")
    return fan_out_clones(rep_pairs, slim, "_gid", {}, self_pass)


def _make_local_topk_with_ties():
    # Factory indirection so the name below binds a CLOSURE, which
    # cloudpickle ships BY VALUE inside worker functions; a plain
    # module-level def pickles by reference and breaks bare sessions
    # driven from a non-repo cwd (workers can't import this package).
    def _local_topk_with_ties(sims, k: int):
        """Row/column index pairs of each column's top-k scores INCLUDING
        every boundary tie: everything >= the k-th largest value is kept.
        A plain ``argpartition[:k]`` breaks boundary ties arbitrarily,
        which is wrong for a partial top-k feeding a deterministic global
        merge (sim desc, id asc): the batch holding the LOWER-id member of
        a tie could drop it while another batch emits the higher-id clone
        — exactly what duplicated corpora produce (caught at sf1, where
        every vector has replicas: recall vs the exact scan was 98.7%
        instead of 100%). Emitting ties costs O(tie multiplicity) extra
        rows and restores 'union of local top-k ⊇ global top-k' under the
        total order."""
        import numpy as np

        take = min(k, sims.shape[0])
        part = np.argpartition(-sims, take - 1, axis=0)
        cols = np.arange(sims.shape[1])
        thresh = sims[part[take - 1], cols]  # k-th largest per column
        keep = sims >= thresh[None, :]
        ci, qi = np.nonzero(keep)
        return ci, qi

    return _local_topk_with_ties


_local_topk_with_ties = _make_local_topk_with_ties()


def assign_ivf_buckets_matmul(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_sim: bool = False,
) -> DataFrame:
    """Bucket assignment as ONE argmax kernel per Arrow batch: the
    centroid matrix rides the closure, each batch computes
    cosine(C_batch, Cent) as a single BLAS matmul and takes the row
    argmax — no |corpus| x |centroids| pair rows, no window. Ties
    resolve to the LOWEST centroid id (matrix sorted by id; argmax
    returns the first maximum), the same tie-break as the pair-join
    path. Measured at sf10 with 447 centroids: the pair-join assignment
    took ~8 min; this takes seconds — the same row-plumbing-vs-BLAS
    gap as matmul_topk.

    ``with_sim=True`` additionally emits the winning cosine as ``sim``
    (one extra row-max over the same product — the IVF store's drift
    stat needs it). ONE kernel serves both shapes so the store's
    append==rebuild equivalence can never drift from the layout build's
    tie-break (review finding: a forked copy of this kernel would
    silently break that contract on any future edit here)."""
    cent_rows = sorted(
        centroids.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    return assign_ivf_buckets_matmul_rows(
        corpus, cent_rows, id_col, vec_col, with_sim=with_sim
    )


def assign_ivf_buckets_matmul_rows(
    corpus: DataFrame,
    cent_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_sim: bool = False,
) -> DataFrame:
    """``assign_ivf_buckets_matmul`` over PRE-COLLECTED centroid rows
    (id-sorted ``(id, vec)``), split out (r15) so a caller that holds
    the pinned centroid matrix — the IVF store's streaming append runs
    one assignment per micro-batch against centroids frozen at build —
    skips the per-batch read-parquet + collect job the DataFrame entry
    pays. Same kernel, same tie-break; the DataFrame overload above
    delegates here."""
    import numpy as np

    ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    from pyspark.sql import types as T

    schema = T.StructType(
        list(corpus.select(id_col, vec_col).schema.fields)
        + [T.StructField("bucket_id", T.LongType())]
        + ([T.StructField("sim", T.DoubleType())] if with_sim else [])
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            sims = Xn @ Mn.T
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["bucket_id"] = ids[np.argmax(sims, axis=1)]
            if with_sim:
                pdf["sim"] = np.max(sims, axis=1)
            yield pdf

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def matmul_topk_from_layout(
    spark,
    layout_path: str | list,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN probe of a persisted IVF layout with matmul-shaped scoring:
    the scan is partition-pruned to the query batch's probed buckets,
    and each Arrow batch scores its rows against ONLY the queries
    probing that row's bucket — one BLAS call per (batch, bucket),
    emitting local top-k rows. Per-batch cost is O(probed vectors),
    and scoring runs at matmul throughput instead of pair-row
    plumbing (the pair-join probe variant scanned 7% of the corpus yet
    LOST to the full exact scan at sf10 — see scripts/ab_ivf_layout.py)."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int")
    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    Q = np.array([list(r.qvec) for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    cent_rows = sorted(
        centroids.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    c_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    # per-query probe set (driver-side numpy — |Q| x |centroids| is
    # metadata-sized); ties toward lower centroid_id like the window
    qsims = Qn @ Mn.T
    order = np.argsort(-qsims, axis=1, kind="stable")[:, :nprobe]
    probe_ids = c_ids[order]  # (|Q|, nprobe)
    # bucket -> indices of queries probing it
    bucket_queries: dict[int, list[int]] = {}
    for qi, row in enumerate(probe_ids):
        for b in row:
            bucket_queries.setdefault(int(b), []).append(qi)
    needed = sorted(bucket_queries)

    # one or many layout roots (the append store probes every live
    # batch dir — see operators/ivf_store.py): each leg is filtered
    # BEFORE the union so partition pruning applies per root (multiple
    # partitioned roots in one read would need a common basePath, which
    # distinct batch dirs don't have)
    paths = [layout_path] if isinstance(layout_path, str) else list(layout_path)
    legs = [
        spark.read.parquet(p).filter(
            F.col("bucket_id").isin(needed)  # partition-pruned scan
        )
        for p in paths
    ]
    table = legs[0]
    for leg in legs[1:]:
        table = table.unionByName(leg)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_n, out_s = [], [], []
            for b, grp in pdf.groupby("bucket_id"):
                qidx = np.array(bucket_queries.get(int(b), []), dtype=np.int64)
                if qidx.size == 0:
                    continue
                ids = grp[id_col].to_numpy(dtype=np.int64)
                C = np.array(list(grp[vec_col]), dtype=np.float64)
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                sims = Cn @ Qn[qidx].T  # (rows, |probing queries|)
                sims[ids[:, None] == q_ids[qidx][None, :]] = -np.inf
                cc, qq = _local_topk_with_ties(sims, k)
                ss = sims[cc, qq]
                keep = np.isfinite(ss)
                out_q.append(q_ids[qidx[qq[keep]]])
                out_n.append(ids[cc[keep]])
                out_s.append(ss[keep])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "sim": np.concatenate(out_s),
                    }
                )

    cand = table.select(id_col, vec_col, "bucket_id").mapInPandas(
        run, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 4096,
) -> DataFrame:
    """SemDeDup-shaped near-duplicate pairs (cluster-then-pairwise, the
    method of arXiv:2303.09540): assign every vector to its nearest
    centroid with the argmax kernel, then compute pairwise cosine ONLY
    within each cluster — total work sum(|cluster|^2) instead of n^2,
    and embarrassingly parallel across clusters.

    APPROXIMATE BY DESIGN: a near-dup pair split across two clusters is
    missed (SemDeDup's documented trade); ``grid_near_dup_pairs`` is
    the full-recall alternative at high thresholds. Exact clones are
    never split: identical vectors get identical centroid sims in one
    argmax pass, so they land in the same cluster deterministically.

    Shape: ``applyInPandas`` per cluster — each cluster must fit one
    worker's memory, which is the method's real operating point (you
    size #centroids so clusters are ~|corpus|/k); the inner matmul is
    CHUNKED (``chunk`` rows at a time against the cluster) so the sims
    buffer is bounded regardless of cluster size. Returns
    (cluster_id, id_a, id_b, sim) with id_a < id_b."""
    assigned = assign_ivf_buckets_matmul(corpus, centroids, id_col, vec_col)
    return _pairs_within_clusters(assigned, threshold, id_col, vec_col, chunk)


def _pairs_within_clusters(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 4096,
    include_self: bool = False,
) -> DataFrame:
    """Within-cluster pairwise kernel shared by ``semantic_dedup_pairs``
    and its routed variant: ``assigned`` must carry (id_col, vec_col,
    bucket_id); emits (cluster_id, id_a, id_b, sim) with id_a < id_b.

    ``include_self=True`` additionally emits the DIAGONAL rows
    (id_a == id_b, sim = the kernel's own fl(cos(v, v)), threshold
    applied as usual) — the routed variant consumes these so intra-clone
    pairs inherit the exact sim value and the exact degenerate-input
    behavior (zero-norm -> NaN -> dropped) the raw kernel would have
    produced for a pair of identical vectors."""
    import numpy as np
    import pandas as pd

    def pairs_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.array(list(pdf[vec_col]), dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        n = len(ids)
        out_a, out_b, out_s = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            sims = Xn[lo:hi] @ Xn.T  # (hi-lo, n)
            ii, jj = np.nonzero(sims >= threshold)
            gi = ii + lo
            keep = ids[gi] < ids[jj]  # dedupe + drop self
            if include_self:
                keep = keep | (gi == jj)
            out_a.append(ids[gi[keep]])
            out_b.append(ids[jj[keep]])
            out_s.append(sims[ii[keep], jj[keep]])
        bucket = pdf["bucket_id"].iloc[0] if n else 0
        if not out_a:
            return pd.DataFrame(
                {"cluster_id": [], "id_a": [], "id_b": [], "sim": []}
            )
        return pd.DataFrame(
            {
                "cluster_id": np.full(sum(map(len, out_a)), bucket, dtype=np.int64),
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return assigned.groupBy("bucket_id").applyInPandas(
        pairs_in_cluster, "cluster_id long, id_a long, id_b long, sim double"
    )


def semantic_dedup_pairs_deduped(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 4096,
) -> DataFrame:
    """``semantic_dedup_pairs`` routed through EXACT vector dedup first
    — the SemDeDup member of the r7 routing family
    (``grid_near_dup_pairs_deduped`` / ``fuzzy_join_deduped`` /
    ``_minhash_pairs``), closing the last near-dup operator that paid
    sum(|cluster|^2) on replicated corpora. Pair-set IDENTICAL to the
    raw kernel (tested on a clone-heavy corpus):

    1. collapse bit-identical vectors (64-bit vector hash, true
       array-equality verify inside the group so a hash collision can
       never merge distinct vectors), representative = min id;
    2. assign REPRESENTATIVES to centroids (identical vectors get
       identical argmax assignments, so every clone group lands
       wholesale in its rep's cluster — the pair partition is preserved
       by construction) and run the within-cluster pairwise kernel over
       reps only, with ``include_self=True`` so each rep also reports
       its own fl(cos(v, v)) under the SAME threshold filter the raw
       kernel applies to a pair of identical vectors;
    3. fan out through ``dedup.fan_out_clones`` (the member map is two
       longs/row — vectors never shuffle again); clone groups expand to
       intra pairs gated + valued by their rep's diagonal row from
       step 2.

    Cost: the quadratic stage pays |distinct vectors| per cluster
    instead of |members|; everything after is linear in the OUTPUT.
    Clone-free corpora pass through with one extra hash-aggregate.
    Raw-vs-routed sf1 measurements: SCALING.md (round 8)."""
    # rep_all below is an applyInPandas output consumed twice
    # (cross + intra legs), hence its own stage
    reps, slim = exact_vector_dedup(corpus, id_col, vec_col)

    assigned = assign_ivf_buckets_matmul(
        reps.select(F.col("_rid").alias(id_col), F.col("_rv").alias(vec_col)),
        centroids,
        id_col,
        vec_col,
    )
    rep_all = _pairs_within_clusters(
        assigned, threshold, id_col, vec_col, chunk, include_self=True
    ).transform(stage)

    rep_pairs = rep_all.where(F.col("id_a") < F.col("id_b"))
    # intra-clone pairs: gated + valued by the rep's own diagonal row —
    # the exact float the raw kernel computes for two identical members
    # (and the exact NaN-drop on zero-norm vectors)
    self_rows = rep_all.where(F.col("id_a") == F.col("id_b")).select(
        F.col("id_a").alias("_rid"), "cluster_id", "sim"
    )
    return fan_out_clones(
        rep_pairs,
        slim,
        "_gid",
        {"cluster_id": F.col("cluster_id"), "sim": F.col("sim")},
        self_rows,
    ).select("cluster_id", "id_a", "id_b", "sim")


def build_ivf_layout(
    corpus: DataFrame,
    centroids: DataFrame,
    out: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index: corpus assigned to nearest-centroid
    buckets by the argmax kernel (no pair rows) and written
    ``partitionBy(bucket_id)``. This is the build HALF of the
    amortization trade the in-query ``ivf_topk`` cannot express: pay
    assignment once, then every query batch reads only its probed
    bucket partitions (partition pruning at the scan — see
    ``matmul_topk_from_layout`` and ``scripts/ab_ivf_layout.py`` for
    the measured break-even)."""
    assign_ivf_buckets_matmul(corpus, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("bucket_id").parquet(out)


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One k-means (Lloyd) update: assign every vector to its nearest
    centroid, then recompute each centroid as the mean of its bucket.
    Returns (id_col, vec_col) so the result drops back into
    ``assign_ivf_buckets`` — call repeatedly for more iterations.

    The mean is decimal-exact: per-coordinate ``SUM(CAST(x AS
    DECIMAL(20,10)))`` is order-independent (unlike a double sum, whose
    value depends on partitioning), then one cast to double and one
    integer division — so Spark and an ANSI oracle produce
    bit-identical centroids on any cluster layout. At scale this is the
    standard k-means-on-Spark shape: one broadcast assign pass + one
    (bucket_id, pos) aggregate, both map-side-combining; centroids that
    lose every vector drop out (k shrinks deterministically).
    """
    assigned = assign_ivf_buckets(corpus, centroids, id_col, vec_col)
    per_coord = assigned.select(
        "bucket_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    means = per_coord.groupBy("bucket_id", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double") / F.count("*")
        ).alias("m")
    )
    return (
        means.groupBy("bucket_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias(vec_col)
        )
        .select(F.col("bucket_id").alias(id_col), vec_col)
    )


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (broadcast
    pass; at scale, write the result partitioned by bucket)."""
    from pyspark.sql import Window

    cent = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec")
    )
    scored = corpus.crossJoin(F.broadcast(cent)).select(
        id_col,
        vec_col,
        "centroid_id",
        cosine(F.col(vec_col), F.col("cent_vec")).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, F.col("centroid_id").alias("bucket_id"))
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed ANN top-k: bucket the corpus by nearest centroid,
    probe each query's ``nprobe`` nearest buckets, exact cosine + top-k
    within the probed candidates only.

    Returns (query_id, neighbor_id, rank). At 100 TB the bucketed
    corpus is written ``partitionBy(bucket_id)`` so probing prunes
    partitions instead of scanning (plan-asserted in
    ``test_ivf_bucket_layout_prunes_partitions``).

    The probe set (queries x nprobe) is DELIBERATELY broadcast — unlike
    the delta-key set in ``merge_cdc_delta_only``, a shuffled fallback
    is not a graceful degradation here: the join key is ``bucket_id``
    (cardinality = #centroids), so a shuffle join concentrates the
    entire corpus onto #centroids reducers. The operator's contract is
    a query BATCH (bounded by the broadcast threshold); huge query sets
    are chunked into batches by the caller, each probing pruned bucket
    partitions.

    Candidate cosine is the JVM element fold — the path the DuckDB
    oracle mirrors term-for-term."""
    bucketed = assign_ivf_buckets(corpus, centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cent = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qsim").desc(), F.col("centroid_id").asc()
    )
    probed = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            cosine(F.col("qvec"), F.col("cent_vec")).alias("qsim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    cand = (
        bucketed.join(F.broadcast(probed), bucketed.bucket_id == probed.centroid_id)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col(vec_col), F.col("qvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
