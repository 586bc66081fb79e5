"""Deduplication operators for LLM training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard (BASELINE north star; the reference
has only key-level CDC dedup, SURVEY.md A2).

Everything is built from JVM-side higher-order array functions — no
Python UDFs — and from an md5-based hash family that the DuckDB oracle
can reproduce bit-for-bit:

    h_seed(s) = int(hex(md5(seed || ':' || s))[:15], 16)

(15 hex chars = 60 bits, fits a signed 64-bit int in both engines:
Spark ``conv(substr(md5(..),1,15),16,10)``, DuckDB
``('0x' || substr(md5(..),1,15))::BIGINT``.)

Scale design:
- Shingling/signatures are per-row projections (codegen, no shuffle).
- LSH candidate generation is an explode on (band_id, band_hash) and a
  self-equi-join on that compound key: the join key space is uniform
  (md5), so the shuffle is skew-free; pairs are generated per-bucket
  instead of O(n²).
- Exact verification (true Jaccard) runs only on candidate pairs.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expr_util import bind_once

N_MINHASH = 16  # signature length
LSH_BANDS = 8   # bands of r = N_MINHASH / LSH_BANDS rows each
SHINGLE_K = 3   # tokens per shingle


def normalized_tokens(text: Column) -> Column:
    """Lowercase, collapse non-alphanumerics, split to tokens."""
    return F.split(F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")), " ")


def normalized_tokens_sql(expr: str) -> str:
    return (
        f"regexp_split_to_array(TRIM(regexp_replace(LOWER({expr}),"
        f" '[^a-z0-9]+', ' ', 'g')), ' ')"
    )


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles (k consecutive tokens joined by a space).

    Built as a ``zip_with`` chain over k shifted slices (the same
    reshape as ``curation.word_ngrams``): a ``transform`` lambda that
    indexes ``toks`` would re-evaluate the whole lower+regexp+split
    subtree per element — HOFs run interpreted without subexpression
    elimination, which made shingling quadratic in document length.
    The token subtree is additionally ``bind_once``-bound (r15): the
    reshape references ``toks`` ~7 times (three shifted slices + size
    guards), and since HOF argument positions each embed their OWN
    copy of the tree, the regexp+split ran ~7x per row — binding it as
    a lambda variable evaluates it once (measured 1.02 -> 0.54 s over
    the sf0.1 corpus, rows identical). The ``when`` keeps the
    under-k-tokens case an EMPTY array (an unguarded
    ``sequence(0, size-k)`` with negative stop would count DOWN and
    index out of bounds)."""

    def build(toks: Column) -> Column:
        n_pos = F.size(toks) - F.lit(k - 1)
        length = F.greatest(n_pos, F.lit(0))
        grams = F.slice(toks, 1, length)
        for j in range(1, k):
            grams = F.zip_with(
                grams,
                F.slice(toks, j + 1, length),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        return F.when(n_pos > 0, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(normalized_tokens(text), build)


def shingles_from_tokens_sql(t: str, k: int = SHINGLE_K) -> str:
    """DuckDB mirror of ``shingles`` over a token-list column ``t``
    (1-indexed lists; stage tokens via ``normalized_tokens_sql`` in a CTE)."""
    parts = " || ' ' || ".join(f"{t}[i + {j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(range(1, GREATEST(LEN({t}) - {k - 1}, 0) + 1),"
        f" i -> {parts}))"
    )


def portable_hash(s: Column, seed: int) -> Column:
    """60-bit deterministic hash shared with the SQL oracle."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), s)), 1, 15), 16, 10).cast(
        "long"
    )


def portable_hash_sql(expr: str, seed: int) -> str:
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


def _hasher(seed: int):
    # NB: the lambda must take exactly ONE arg — PySpark treats a
    # two-arg lambda in a higher-order function as (element, index).
    return lambda s: portable_hash(s, seed)


def minhash_signature(shingle_arr: Column, n: int = N_MINHASH) -> Column:
    """Array of n minhash values: min over shingles of h_seed.

    md5-based so the SQL oracle can reproduce it — the VERIFICATION
    path. Production uses ``minhash_signature_fast`` (xxhash64, native
    codegen, ~10x cheaper) with identical pair-finding behavior."""
    return F.array(
        *[F.array_min(F.transform(shingle_arr, _hasher(i))) for i in range(n)]
    )


def minhash_signature_fast(shingle_arr: Column, n: int = N_MINHASH) -> Column:
    """xxhash64-seeded minhash — the at-scale hash family (JVM-native,
    no string formatting). Not SQL-portable, so queries built on it are
    rows-only checked; equivalence of RESULTS (found duplicate pairs)
    with the md5 family is asserted in tests."""

    def h(seed: int):
        return lambda s: F.xxhash64(F.lit(seed), s)

    return F.array(*[F.array_min(F.transform(shingle_arr, h(i))) for i in range(n)])


def minhash_signature_sql(shingle_expr: str, n: int = N_MINHASH) -> str:
    mins = ", ".join(
        f"list_min(list_transform({shingle_expr}, s -> {portable_hash_sql('s', i)}))"
        for i in range(n)
    )
    return f"[{mins}]"


def band_keys(sig: Column, bands: int = LSH_BANDS, n: int = N_MINHASH) -> Column:
    """LSH band hashes: md5 over each band's slice of the signature."""
    r = n // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.element_at(sig, b * r + j + 1).cast("string") for j in range(r)],
                )
            )
            for b in range(bands)
        ]
    )


def band_keys_sql(sig_expr: str, bands: int = LSH_BANDS, n: int = N_MINHASH) -> str:
    r = n // bands
    parts = []
    for b in range(bands):
        concat = " || ',' || ".join(
            f"CAST({sig_expr}[{b * r + j + 1}] AS VARCHAR)" for j in range(r)
        )
        parts.append(f"md5({concat})")
    return f"[{', '.join(parts)}]"


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, as a double."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def jaccard_sql(a: str, b: str) -> str:
    inter = f"LEN(list_intersect({a}, {b}))"
    union = f"(LEN({a}) + LEN({b}) - {inter})"
    return (
        f"CASE WHEN {union} = 0 THEN 0.0 "
        f"ELSE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) END"
    )


SIMHASH_BITS = 64        # signature width (4 disjoint 16-bit blocks)
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 16 -> 2^16 key space/block


def feature_hashes(features: Column, seed: int = 0) -> Column:
    """Portable hash per feature (shingle or token array). STAGE THIS AS
    ITS OWN COLUMN before feeding ``simhash64_blocks`` — passing the
    expression directly duplicates the hashing once per bit term;
    an attribute reference is computed once and CSE'd.

    Feature choice matters: SimHash measures feature-multiset
    similarity, so over a small vocabulary (the fixture has 31 words)
    unigram features make ALL documents near-identical and the
    signature collapses. k-token shingles (the same features the
    MinHash path uses) keep the feature space large (|V|^k) and the
    signature discriminative."""
    return F.transform(features, _hasher(seed))


def simhash64_blocks(h_lo: Column, h_hi: Column) -> Column:
    """64-bit SimHash as an array of four 16-bit block values.

    Bit j of the signature is set iff more tokens have bit j of their
    hash set than clear (the classic per-bit majority). The 64 signature
    bits come from two independently seeded 60-bit portable hashes
    (``token_hashes(text, 0)`` and ``token_hashes(text, 1)``): blocks 0-1
    are bits 0-31 of the seed-0 majority, blocks 2-3 bits 0-31 of the
    seed-1 majority. Keeping the signature as four 16-bit blocks (rather
    than one signed int64) makes the LSH key explicit and sidesteps
    signed-shift pitfalls in both engines.

    Scale: the pigeonhole LSH joins on (block_id, block_val) with a
    2^16-value key space per block — at 10^9 docs, random collisions per
    block are n^2/2^17 per bucket-pair instead of the 8-bit scheme's
    n^2/2^9; exact hamming over the full 64 bits verifies candidates.
    hamming <= 3 across 4 disjoint blocks guarantees >= 1 equal block,
    so recall at the threshold is exact."""

    # ONE aggregate pass per hash array accumulating all 32 bit
    # counters, instead of 32 size(filter(...)) passes (r7; the filter
    # form allocated a filtered ARRAY per bit term — 64 traversals +
    # 64 allocations per row — and measured 7x slower end-to-end at
    # sf0.1: 60.6 s -> 8.5 s for the full simhash query, identical
    # pairs). `masks` appears only as a HOF *argument* (the r6
    # outer-column rule): the inner zip_with lambda touches just its
    # element variables, so per-element work stays 32 cheap int ops.
    masks = F.array(*[F.lit(1 << j) for j in range(2 * SIMHASH_BLOCK_BITS)])

    def bit_counts(hashes: Column) -> Column:
        return F.aggregate(
            hashes,
            F.array_repeat(F.lit(0), 2 * SIMHASH_BLOCK_BITS),
            lambda acc, x: F.zip_with(
                acc,
                masks,
                lambda a, m: a
                + F.when(x.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(0)),
            ),
        )

    def block(counts: Column, n: Column, offset: int) -> Column:
        terms = [
            F.when(
                F.element_at(counts, offset + j + 1) * 2 > n, F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(SIMHASH_BLOCK_BITS)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out.cast("long")

    n = F.size(h_lo)
    lo_counts, hi_counts = bit_counts(h_lo), bit_counts(h_hi)
    return F.array(
        block(lo_counts, n, 0),
        block(lo_counts, n, SIMHASH_BLOCK_BITS),
        block(hi_counts, n, 0),
        block(hi_counts, n, SIMHASH_BLOCK_BITS),
    )


def simhash64(text: Column) -> Column:
    """One-shot shingle-feature SimHash block array for small
    inputs/tests; in query plans prefer staging the shingle and hash
    arrays in selects first (see q_dedup_simhash)."""
    sh = shingles(text)
    return simhash64_blocks(feature_hashes(sh, 0), feature_hashes(sh, 1))


def exact_text_dedup(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The exact-dedup pre-pass shared by the routed TEXT near-dup
    families (minhash, simhash) — one implementation, mirroring
    ``similarity.exact_vector_dedup`` for the vector families.

    Keys are TWO independent 64-bit text hashes, not the raw text: the
    member join then moves 16 bytes per row instead of whole document
    bodies (at 100 TB the text shuffle would dominate the "O(n) exact
    dedup" step). A 128-bit collision would be needed to merge two
    distinct texts (~2^-64 per pair — far below any physical error
    rate); the groupBy still moves each text once, which is inherent
    (representatives carry the text into shingling).

    Returns ``(reps, mem)``: ``reps`` = one (doc_id, text) row per
    distinct text (doc_id = min member id); ``mem`` = the
    (member doc_id, _rid) map — two longs per row, the only thing the
    output fan-out shuffles."""
    hashed = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.xxhash64(text_col).alias("_h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("_h2"),
    )
    # min_by(text, doc_id), not first(text) (r15; claim corrected r16,
    # ADVICE r15 #2): the r15 comment said min_by plans as
    # ObjectHashAggregate — that is FALSE. MinBy is a
    # DeclarativeAggregate with a string buffer, so this groupBy plans
    # as SortAggregate either way (pinned in
    # plans/r16/exact_text_dedup_reps_plan.txt); the corpus-wide sort
    # by the hash pair is still paid. The change's real value is
    # unconditional determinism: min_by returns the minimum-id member's
    # text, where first() was deterministic only because every group
    # member carries the identical text. The sort-free alternative
    # (groupBy.agg(min(doc_id)) = HashAggregate, then a left-semi join
    # on doc_id to recover rep text) was A/B'd in r16 and REJECTED:
    # rows identical but 3.04 -> 3.38 s median through the
    # q_dedup_minhash_fast pipeline at sf0.1 — the extra join adds
    # jobs/stages in the staged AQE-off subtrees (and its SMJ re-sorts
    # the corpus by doc_id, so even at scale it trades one sort for
    # another plus an extra corpus scan). Recorded in SCALING.md,
    # round 15 finding 3.
    groups = hashed.groupBy("_h1", "_h2").agg(
        F.min("doc_id").alias("_rid"), F.min_by("text", "doc_id").alias("text")
    )
    mem = (
        hashed.drop("text")
        .join(groups.select("_h1", "_h2", "_rid"), ["_h1", "_h2"])
        .select("doc_id", "_rid")
    )
    reps = groups.select(F.col("_rid").alias("doc_id"), "text")
    return reps, mem


def fan_out_clones(
    rep_pairs: DataFrame,
    mem: DataFrame,
    member: str,
    intra: dict[str, Column],
    gate: DataFrame | None = None,
) -> DataFrame:
    """Fan representative pairs out to member pairs: the last step of
    the routing law every routed near-dup operator follows (collapse
    exact clones, run the kernel on representatives, fan out).

    ``rep_pairs`` is ``(id_a, id_b, *carry)`` over representative ids;
    ``mem`` maps each ``_rid`` to its members in column ``member`` (a
    rep is a member of its own group). Clones share whatever the kernel
    compared, so a member pair's carry IS its rep pair's. Emits
    ``(id_a, id_b, *carry)`` with id_a < id_b, linear in the output:

    - cross pairs: each rep pair joined to both member lists on
      ``_rid``, ids ordered by least/greatest;
    - intra-clone pairs: one member self-join on ``_rid``, carry column
      ``c`` valued ``intra[c]``, a literal or a column of ``gate``.
      ``gate``, keyed on the unique ``_rid``, also keeps only the clone
      groups it lists (the kernel's verdict on two identical inputs)."""
    carry = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    ma = mem.select(F.col("_rid").alias("id_a"), F.col(member).alias("_ma"))
    mb = mem.select(F.col("_rid").alias("id_b"), F.col(member).alias("_mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            *carry,
        )
    )
    x, y = mem.alias("x"), mem.alias("y")
    same = x.join(y, "_rid").where(F.col(f"x.{member}") < F.col(f"y.{member}"))
    if gate is not None:
        same = same.join(gate, "_rid")
    clones = same.select(
        F.col(f"x.{member}").alias("id_a"),
        F.col(f"y.{member}").alias("id_b"),
        *[intra[c].alias(c) for c in carry],
    )
    return cross.unionByName(clones)


def feature_hashes_fast(features: Column) -> Column:
    """xxhash64 per feature — the at-scale hash family for the fast
    SimHash path (one native 64-bit hash per shingle instead of two
    md5-string 60-bit portable hashes). Not SQL-portable: queries on it
    are rows-only checked, with fixture pair-set agreement vs the md5
    family asserted in pytest (the two families CAN legitimately differ
    near the hamming threshold — SimHash has no exact verify step — so
    the test pins the injected dups, which sit far from the margin)."""
    return F.transform(features, lambda s: F.xxhash64(s))


def _make_majority_counts():
    """Factory for the per-row bit-count kernel (closure so
    cloudpickle ships it by value into the Arrow fold — the
    bare-session pickling rule). Handles the two review findings (r8):

    - ``np.add.reduceat`` mis-segments around EMPTY rows (a trailing
      empty row's start == total raises IndexError; a mid-batch empty
      row's start duplicates its successor's, and naive clipping
      truncates the PREVIOUS row's segment) — so the reduce runs over
      the NON-EMPTY rows' offsets only, which are strictly increasing
      and in range by construction; empty rows keep their zero counts;
    - the bit matrix is built in 16-bit CHUNKS of int32, bounding the
      transient at total_hashes x 16 x 4B instead of total x 64 x 8B —
      the difference between ~0.6 GiB and ~5 GiB per worker on the
      long-document corpora the Arrow fold is recommended for."""
    import numpy as np

    def majority_counts(series, nbits: int):
        lens = np.fromiter((len(v) for v in series), dtype=np.int64)
        counts = np.zeros((len(lens), nbits), dtype=np.int64)
        nz = np.flatnonzero(lens > 0)
        if len(nz):
            flat = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in series]
            ).astype(np.uint64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            starts_nz = starts[nz]
            for j0 in range(0, nbits, 16):
                js = np.arange(j0, min(j0 + 16, nbits), dtype=np.uint64)
                bits = ((flat[:, None] >> js) & np.uint64(1)).astype(np.int32)
                counts[nz, j0 : j0 + len(js)] = np.add.reduceat(
                    bits, starts_nz, axis=0
                )
        return counts, lens

    return majority_counts


def make_simhash_blocks64_arrow():
    """Arrow majority fold for the fast family: ONE 64-bit hash array
    per doc (xxhash64 carries 64 real bits, so no second seed is
    needed); blocks 0-3 are the per-bit majorities of bits 0-15, 16-31,
    32-47, 48-63: unpack every hash bit of the Arrow batch at once,
    per-row bit counts via ``np.add.reduceat`` over row offsets,
    strict-majority (count*2 > n) threshold, pack 16-bit blocks.

    Factory returning a pandas_udf built at call time (UDF return-type
    parsing needs an active session; closures ship by value for bare
    sessions)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    B = SIMHASH_BLOCK_BITS
    majority_counts = _make_majority_counts()

    @pandas_udf("array<long>")
    def blocks(h: pd.Series) -> pd.Series:
        counts, lens = majority_counts(h, 64)
        maj = (counts * 2 > lens[:, None]).astype(np.int64)
        w = 1 << np.arange(B, dtype=np.int64)
        out = np.stack(
            [maj[:, i * B : (i + 1) * B] @ w for i in range(SIMHASH_BLOCKS)],
            axis=1,
        )
        return pd.Series(list(out)).map(lambda a: a.tolist())

    return blocks


def hamming64(blocks_a: Column, blocks_b: Column) -> Column:
    """Exact hamming distance between two 64-bit block-array signatures."""
    out = None
    for i in range(1, SIMHASH_BLOCKS + 1):
        term = F.bit_count(
            F.element_at(blocks_a, i).bitwiseXOR(F.element_at(blocks_b, i))
        )
        out = term if out is None else out + term
    return out.cast("long")


def feature_hashes_sql(features_expr: str, seed: int = 0) -> str:
    """DuckDB: list of portable feature hashes (stage this as a CTE
    column named e.g. ``h0``/``h1``, then apply ``simhash64_blocks_sql``)."""
    return f"list_transform({features_expr}, t -> {portable_hash_sql('t', seed)})"


def simhash64_blocks_sql(h_lo: str, h_hi: str) -> str:
    def block(h: str, offset: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN LEN(list_filter({h}, x -> (x & {1 << (offset + j)}) != 0))"
            f" * 2 > LEN({h}) THEN {1 << j} ELSE 0 END)"
            for j in range(SIMHASH_BLOCK_BITS)
        )
        return f"CAST({terms} AS BIGINT)"

    return f"[{block(h_lo, 0)}, {block(h_lo, 16)}, {block(h_hi, 0)}, {block(h_hi, 16)}]"


def hamming64_sql(a: str, b: str) -> str:
    terms = " + ".join(
        f"bit_count(xor({a}[{i}], {b}[{i}]))" for i in range(1, SIMHASH_BLOCKS + 1)
    )
    return f"CAST({terms} AS BIGINT)"


# round count of the most recent connected_components call —
# introspection for tests, never consumed by production code.
LAST_CC_ROUNDS: dict[str, int] = {}


def _cut(df: DataFrame, durable: bool) -> DataFrame:
    """Materialize + truncate lineage for one iteration round.
    ``localCheckpoint`` (executor-pinned block-manager blocks) by
    default; ``durable=True`` uses Spark's RELIABLE checkpoint instead
    — round frames become files on the (shared) checkpoint filesystem,
    so an executor loss mid-iteration re-reads instead of recomputing
    or failing the whole loop. Same trade as the staging backends
    (``operators/stage.py``).

    The durable path persists around the checkpoint: an eager
    ``checkpoint()`` alone runs TWO jobs — the materializing count,
    then ``doCheckpoint`` re-executing the final stage to write the
    files (shuffle outputs are reused, post-shuffle work is not; the
    probe in stage.py measured exactly this). Caching the first job's
    partitions lets the write job read blocks instead of recomputing;
    the blocks are released as soon as the files exist (review
    finding)."""
    if not durable:
        return df.localCheckpoint()
    from .stage import _ensure_checkpoint_dir

    _ensure_checkpoint_dir(df.sparkSession)
    cached = df.persist()
    try:
        return cached.checkpoint()
    finally:
        # always release the blocks — a checkpoint failure (FS full,
        # executor loss mid-write) must not leak the round frame in the
        # block manager for the rest of the session (review finding)
        cached.unpersist()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int | None = None,
    durable: bool = False,
) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: connected components.
    Returns ``(id, group_id)`` for every node in the pair graph, where
    ``group_id`` is the smallest id reachable — the canonical survivor,
    so `WHERE id != group_id` is the delete set.

    This is the end-step a near-dedup pipeline actually needs: LSH
    emits PAIRS, but retention decisions are per-CLUSTER (A~B, B~C must
    keep exactly one of {A,B,C}, not resolve pairs independently).

    Runs the alternating large-star/small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond"): each round
    rewires every node's strictly-larger neighbors (large-star) then its
    smaller neighbors (small-star) onto the local minimum, so label
    distances HALVE-or-better per round and convergence is
    O(log diameter) rounds — a 1000-link chain closes in ~11 rounds
    where min-label propagation needs ~1000 (the min travels one hop
    per round; r8 measured the drop, SCALING.md). Labels are pinned
    against a union-find reference in pytest, and the recursive-CTE
    DuckDB oracle of q_dedup_groups independently verifies them.

    Edges are kept as canonical (u, v) with u > v; the fixpoint is a
    union of stars whose centers are the component minima. Each round
    is a fixed number of key-partitioned shuffles (groupBy u + self-join
    on u + distinct) — never all-pairs — and the per-round convergence
    probe (one collected row) is EXACT (count match + containment over the two checkpointed
    edge sets), never a lossy hash fingerprint: a fingerprint collision
    (~2^-30/round for a modular hash-sum) would break the loop
    mid-contraction and silently return wrong group labels — wrong
    DELETE sets downstream.

    Every round's frame is ``localCheckpoint``-ed: persist() truncates
    EXECUTION but not the LOGICAL PLAN, and round N's plan references
    round N-1 multiple times, so without the cut the plan tree grows
    exponentially and rendering it alone exhausts memory around a dozen
    rounds. ``durable=True`` swaps every round's cut to Spark's RELIABLE
    checkpoint (files on the checkpoint filesystem —
    ``$SPARK_GRAFT_SCRATCH_DIR`` or a session scratch dir locally, a
    shared FS on a cluster), so a long iterative run survives executor
    loss instead of recomputing the loop.

    Runs to convergence by default (termination is guaranteed).
    ``max_iters`` is an optional safety valve for capped-latency
    callers: when set, exhausting it RAISES rather than returning stale
    (i.e. wrong) group labels.
    """
    u, v = F.col("u"), F.col("v")
    # stage the raw pair projection ONCE: both the edge set and the node
    # set derive from it, and `pairs` is typically an expensive LSH
    # pipeline — deriving nodes from the raw frame would re-execute it
    # a second full time at label-consumption (review finding, r9)
    raw = _cut(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")), durable
    )
    edges = _cut(
        raw.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .filter(u != v)
        .distinct(),
        durable,
    )
    # every node in the PAIR graph gets a label row (self-pairs and
    # isolated ids included via the left-join fill at the end)
    nodes = (
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
    )

    rounds = 0
    prev_edges, prev_n = edges, edges.count()
    while prev_n > 0:
        # -- large-star: for each node, hang every LARGER neighbor onto
        # m = min(neighborhood ∪ self). Output pairs stay (bigger,
        # smaller) because m <= u < v.
        sym = edges.unionByName(edges.select(v.alias("u"), u.alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # the distinct here was profiled (r9 verdict nit: "distinct()
        # twice per round"): dropping it is label-equivalent (dups are
        # bounded by the edge count and the round-end distinct dedups)
        # but measured wall-NEUTRAL on the 1000-link-chain fixture
        # (9.3/7.4 s with vs 8.8/9.7 s without, warm reps) — driver
        # round latency dominates at rep-pair scale and the dup rows
        # just move the work into the next exchange. Kept: it bounds
        # the small-star input at |edges| instead of relying on the
        # duplicate profile of the graph.
        large = (
            sym.filter(v > u)
            .join(mins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
        )
        # -- small-star: for each node, rewire its SMALLER neighbors
        # (and itself) onto m = min of them. Input is already canonical
        # (u > v), so every neighbor under u is in its v-set.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        j = large.join(smins, "u")
        rewired = j.filter(v != F.col("m")).select(
            v.alias("u"), F.col("m").alias("v")
        )
        self_edges = j.select("u", F.col("m").alias("v")).distinct()
        edges = _cut(
            rewired.unionByName(self_edges).filter(u != v).distinct(), durable
        )
        rounds += 1
        # exact set-equality probe in ONE job (r16; was count +
        # exceptAll.isEmpty = 2 jobs on the converged round): both edge
        # sets are distinct + checkpointed, so a left join on (u, v)
        # matches each new edge at most once — count(*) is |edges| and
        # count(_p) counts the edges also present in the previous set.
        # n == prev_n AND inside == n  <=>  equal sets (same exactness
        # as the old probe; a lossy fingerprint stays off the table,
        # see the function docstring).
        probe = (
            edges.join(
                prev_edges.select("u", "v", F.lit(True).alias("_p")),
                ["u", "v"],
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"), F.count("_p").alias("inside")
            )
            .first()
        )
        n = probe["n"]
        if n == prev_n and probe["inside"] == n:
            break
        prev_edges, prev_n = edges, n
        if max_iters is not None and rounds >= max_iters:
            raise RuntimeError(
                f"connected_components did not converge after "
                f"{max_iters} rounds; raise max_iters (rounds needed ~ "
                "log2 of the largest component diameter)"
            )
    LAST_CC_ROUNDS["star"] = rounds
    # fixpoint edges are (member, component_min) stars; nodes that ended
    # up with no edge (self-pairs, or the input was empty) label
    # themselves
    labels = nodes.join(
        edges.select(u.alias("id"), v.alias("group_id")), "id", "left"
    ).select("id", F.coalesce("group_id", F.col("id")).alias("group_id"))
    return labels


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Exact dedup: one hash-aggregate on the content key; keeps the
    smallest id per group and reports group size."""
    return (
        df.select(key.alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").alias("n_copies"),
        )
    )
