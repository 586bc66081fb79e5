"""Deduplication query family (Tier B): exact, MinHash+LSH, SimHash,
n-gram Jaccard — oracle-checked end to end, including the LSH banding.

The fixture corpus has no duplicates, so each query runs over
``documents`` plus deterministically injected copies:
- every 10th doc gets an EXACT copy   (dup_id = doc_id + 2_000_000)
- every 20th doc gets a NEAR copy     (dup_id = doc_id + 1_000_000,
  first 24 characters dropped — high shingle overlap, different hash)

Both engines build the same corpus in-query, so the oracle checks the
full pipeline: normalize → shingle → minhash → band → bucket-join →
exact-Jaccard verify.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref
from concurrent.futures import Future

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import kernel_spread, load_table, table_num_rows
from ..operators import dedup as D
from ..operators import text as X
from ..operators.similarity import cosine_sql
from ..operators.stage import stage

EXACT_MOD = 10
NEAR_MOD = 20
EMBED_DIM = 64  # fixture embeddings are 64-dim (TESTDATA.md)
NEAR_DROP = 24
JACCARD_MIN = 0.5
HAMMING_MAX = 3


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = (
        docs.filter(F.col("doc_id") % EXACT_MOD == 0)
        .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    )
    near = (
        docs.filter(F.col("doc_id") % NEAR_MOD == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.substring("text", NEAR_DROP + 1, 1_000_000).alias("text"),
        )
    )
    return docs.unionByName(exact).unionByName(near)


_CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % {EXACT_MOD} = 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, substring(text, {NEAR_DROP + 1}) AS text
FROM documents WHERE doc_id % {NEAR_MOD} = 0
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint: duplicate
    groups with the survivor (min id) and group size."""
    from ..operators.text import fingerprint

    corpus = _corpus(spark, sf_dir)
    return D.exact_dedup(corpus, fingerprint(F.col("text")), "doc_id").filter(
        F.col("n_copies") >= 2
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → 16-hash signature → 8 bands
    → bucket self-join → exact-Jaccard ≥ 0.5 verification.

    Scale: candidate generation is an equi-join on (band_id, band_hash)
    — uniform md5 keys, skew-free shuffle, never O(n²). The signature is
    staged as a COLUMN before band extraction: band_keys pulls 16
    elements out of it, and inlining the signature expression would
    recompute all 16 md5 minima per element (a 16x blowup)."""
    return _minhash_pairs(spark, sf_dir, fast=False)


# Session-scoped share of the md5-family staged pipeline (r16, verdict
# item #1): q_dedup_minhash_lsh, q_dedup_groups and q_dedup_canonical
# each call `_minhash_parts(fast=False)`, and a session that runs more
# than one of them (the oracle harness, the full-registry sweep) used to
# rebuild the identical shingle -> sign -> band -> verify staged
# pipeline per query — the slowest registry family paid its md5 minhash
# pipeline up to 3x per session. The staged frames are localCheckpoint-
# backed, so handing the SAME (rep_pairs, live) pair to every md5-family
# caller in a session reuses the stored blocks instead.
#
# Scope rules (the no-result-caching line):
# - keyed on the LIVE SparkSession (weak — a new session after stop()
#   rebuilds from parquet; nothing survives the process);
# - within a session, keyed on the data directory AND a token of the
#   `documents` file (footer row count + mtime): reuse is sound only
#   while the input is unchanged, so a rewritten table misses the memo
#   and evicts the directory's older entry, and a `documents` that is
#   not a local file (an object-store URI) is never memoized;
# - built at most ONCE per key: the first caller builds while
#   concurrent callers wait on its future — each independent build
#   would stage, and later execute, its own copy of the pipeline;
# - md5 family ONLY (fast=False): the bench-timed row
#   q_dedup_minhash_fast runs fast=True and must re-execute its full
#   pipeline on every timed rep — memoizing it would time warm
#   checkpoint re-reads instead of the pipeline.
_MD5_PARTS_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MD5_PARTS_LOCK = threading.Lock()


def _minhash_parts(
    spark: SparkSession, sf_dir: str, fast: bool
) -> tuple[DataFrame, DataFrame]:
    if fast:  # bench-timed family: never shared (see memo note above)
        return _minhash_parts_build(spark, sf_dir, fast)
    path = os.path.abspath(sf_dir)
    docs = os.path.join(path, "documents.parquet")
    try:
        key = (path, os.stat(docs).st_mtime_ns, pq.read_metadata(docs).num_rows)
    except OSError:  # nothing local to fingerprint: reuse can't be invalidated
        return _minhash_parts_build(spark, sf_dir, fast)
    with _MD5_PARTS_LOCK:
        memo = _MD5_PARTS_MEMO.setdefault(spark, {})
        for stale in [k for k in memo if k[0] == path and k != key]:
            del memo[stale]
        fut = memo.get(key)
        owner = fut is None
        if owner:
            fut = memo[key] = Future()
    if owner:
        try:
            fut.set_result(_minhash_parts_build(spark, sf_dir, fast))
        except BaseException as exc:
            with _MD5_PARTS_LOCK:  # a failed build is not memoized
                if memo.get(key) is fut:
                    del memo[key]
            fut.set_exception(exc)
            raise
    return fut.result()


_minhash_parts.__doc__ = (
    "Dispatch wrapper: see `_minhash_parts_build` for the pipeline "
    "docstring and the memo note above for the md5-family session share."
)


def _minhash_parts_build(
    spark: SparkSession, sf_dir: str, fast: bool
) -> tuple[DataFrame, DataFrame]:
    """The rep-level HALF of `_minhash_pairs`: verified rep pairs
    (id_a, id_b, jacc) over distinct-text representatives plus the
    live member map (_rid, doc_id; non-empty shingles only). Split out
    (r9) so component queries can consume REP pairs directly —
    connected components distribute over the clone fan-out (see
    q_dedup_groups) — while the pair queries fan out as before.

    Banded MinHash near-dup pairs, routed through EXACT text dedup
    first (r7 — the document-family instance of the routing that cured
    the fuzzy-join and embedding families on replicated corpora):

    1. collapse identical texts, representative = min doc_id. The
       signature/banding depend only on the text, so clones have
       identical postings: a member pair band-collides iff its rep pair
       does, and the routed pair set is IDENTICAL by construction
       (pair-set equivalence tested; jacc values survive too — clones
       share shingle arrays, and the intra-group jacc |sh|/|sh| is
       exactly 1.0 in both engines).
    2. shingle -> sign -> band -> self-join -> verify over reps only.
       STAGING (measured sf0.1): `sh` feeds banding once and the
       Jaccard verify twice, `banded` is self-joined, and ReuseExchange
       does NOT fire across that self-join, so both are
       localCheckpoint-ed — md5 10.4 -> 5.3 s, xxhash64 4.2 -> 2.4 s.
       At 100 TB the staging becomes scratch parquet (checkpoint blocks
       are executor-local, not fault-tolerant) — the layout the
       incremental dedup INDEX already persists.
    3. fan out through ``dedup.fan_out_clones``: clones share shingle
       sets, so a member pair's jacc is its rep pair's and intra-clone
       pairs sit at jacc 1.0. Documents with EMPTY shingle sets never
       enter the raw pipeline, so their clone groups are excluded here
       too (the semi-join on `sh`'s doc ids).

    Measured sf1 (10x-cloned corpus, 391,751 result pairs): md5 path
    66 -> 18 s, fast 29 -> 16 s — and the downstream consumers inherit
    it: q_dedup_groups 56 -> 24 s, q_dedup_canonical 60 -> 24 s. The
    DuckDB oracle (full-corpus signatures + banding, no routing)
    hash-matches at sf0.01 AND sf0.1 — the strongest equivalence
    evidence available. The residual ~16 s is the fan-out of the
    391k-pair output plus the irreducible rep-level pipeline
    (SCALING.md round 7)."""
    corpus = _corpus(spark, sf_dir)
    reps, mem = D.exact_text_dedup(corpus)

    # the size>0 filter sits ABOVE the stage (r15): below it, predicate
    # pushdown substitutes the whole shingle expression into the filter
    # condition and the staged job evaluates shingling 2-3x per rep;
    # above the cut it reads the materialized column for pennies
    sh = reps.select(
        "doc_id", D.shingles(F.col("text")).alias("sh")
    ).transform(stage).filter(F.size("sh") > 0)
    sig_fn = D.minhash_signature_fast if fast else D.minhash_signature
    sig = sh.select("doc_id", sig_fn(F.col("sh")).alias("sig"))
    # MIN-BAND EMISSION (r8, replacing `.distinct()`): a pair
    # band-colliding k times used to emit k rows into a
    # full-candidate-multiset exchange (duplicates live in different
    # partitions — one per colliding band key — so distinct's
    # map-side partial never collapsed them). Each side carries its
    # SIGNATURE (16 longs — far cheaper than the md5 band strings)
    # so a join row can decide locally whether its band is the
    # pair's FIRST colliding band and emit exactly once. Slice
    # equality stands in for band-hash equality: md5 is
    # deterministic, so they differ only where two DIFFERENT slices
    # md5-collide (~2^-128/pair-band) — and even then the pair still
    # emits exactly once, from its first slice-equal band; it could
    # only be LOST if every colliding band were a pure md5 collision.
    r = D.N_MINHASH // D.LSH_BANDS
    banded = sig.select(
        "doc_id",
        "sig",
        F.posexplode(D.band_keys(F.col("sig"))).alias("band_id", "band_hash"),
    ).transform(stage)
    def slice_eq(b: int):
        terms = [
            F.element_at(F.col("a.sig"), b * r + j + 1).eqNullSafe(
                F.element_at(F.col("b.sig"), b * r + j + 1)
            )
            for j in range(r)
        ]
        return functools.reduce(lambda x, y: x & y, terms)

    band_eq = F.array(*[slice_eq(b) for b in range(D.LSH_BANDS)])
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            F.array_position(band_eq, F.lit(True))
            == F.col("a.band_id") + 1
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    rep_pairs = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", D.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jacc"))
        .filter(F.col("jacc") >= JACCARD_MIN)
    )

    # live member map: only members whose group participates (non-empty
    # shingles). STAGED — the fan-out reads it four times (two member
    # joins, both sides of the intra self-join), and each read would
    # re-run the corpus scan + dedup groupBy/join otherwise; the
    # checkpoint is two longs per row.
    live = mem.join(
        sh.select(F.col("doc_id").alias("_rid")), "_rid", "left_semi"
    ).transform(stage)
    return rep_pairs, live


def _minhash_pairs(spark: SparkSession, sf_dir: str, fast: bool) -> DataFrame:
    """Member-level pair set: `_minhash_parts` fanned out (intra-clone
    pairs at jacc 1.0). See `_minhash_parts` for the routing docstring
    and measurements."""
    rep_pairs, live = _minhash_parts(spark, sf_dir, fast)
    return D.fan_out_clones(rep_pairs, live, "doc_id", {"jacc": F.lit(1.0)})


def q_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path minhash (xxhash64): same banding/verify shape,
    native hash — rows-only checked (hash family not SQL-portable);
    pair-set equivalence with the md5 path is tested in pytest."""
    return _minhash_pairs(spark, sf_dir, fast=True)


def q_dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    routed: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature (4 x 16-bit blocks) over
    3-token-shingle features, pigeonhole LSH on (block_id, block_val) —
    hamming ≤ 3 over 64 bits guarantees at least one of the 4 disjoint
    blocks is equal — then exact-hamming verification on candidates only.

    Scale: the join key space is 4 x 2^16 (vs the 8-bit scheme's
    4 x 2^8 that went quadratic), and a 3-bit budget on 64 bits is
    selective: unrelated docs almost never collide, so candidate volume
    tracks the true duplicate count, not n^2. Features are shingles, not
    unigrams — over the fixture's 31-word vocabulary, unigram
    frequency profiles are near-identical across ALL docs and the
    signature collapses (see operators/dedup.py feature_hashes).

    r8 took this query from ~62 s at sf1 to ~5 s in three measured
    steps (SCALING.md round 8; pairs identical at every step):

    1. stage the SIGNATURES, not the exploded postings — the r7 plan
       checkpointed post-explode (4 rows/doc each duplicating the
       blocks array); checkpointing ``sigs`` (one 5-long row/doc) and
       re-deriving the explode per consumer is ~3x;
    2. ROUTE through exact text dedup (``routed=True`` — the last text
       family to join the routing law): identical texts have identical
       shingles, hash arrays, and therefore identical BLOCKS, so a
       member pair block-collides iff its rep pair does with the SAME
       hamming, clone-group intra pairs sit at hamming 0 by
       construction, and the pair set is preserved exactly
       (equivalence-tested; the DuckDB oracle stays the unrouted full
       composition and independently verifies it). Beyond paying
       |distinct texts|, the dedup's shuffle is a MATERIALIZATION
       BARRIER: shingling over the raw corpus UNION (with its
       derived-text branch) measured ~4x slower than over post-shuffle
       storage columns — routing provides the barrier for free;
    3. fold choice: with 1-2 in place a bit-identical Arrow fold of the
       two md5 hash arrays measured WITHIN NOISE of the all-JVM
       aggregate at fixture doc lengths (~30 words — the Arrow transfer
       of the hash arrays offsets what the batch-numpy majority saves),
       so the fold is the JVM aggregate (no Python workers in the
       oracled query)."""
    def sig_of_sh(sh: DataFrame) -> DataFrame:
        # repartition = materialization BARRIER: without it
        # CollapseProject inlines the md5 transform into all 64
        # bit-term filters (a 64x recompute of shingling + hashing per
        # row — measured ~16x wall clock). One narrow shuffle of
        # (doc_id, h0, h1) keeps the hash arrays computed exactly once.
        # NO filter here (r16, ADVICE r15 #1): the barrier does NOT
        # block predicate pushdown — PushPredicateThroughNonJoin pushes
        # a size(h0)>0 filter through RepartitionByExpression and the
        # projection with the whole shingle+hash chain substituted in,
        # re-evaluating it per raw row at the scan. The empty-shingle
        # exclusion instead rides the staged frame as the materialized
        # `_nsh` column and is applied ABOVE the checkpoint cut in
        # `_simhash_query` (a leaf pushdown cannot penetrate).
        hashed = sh.select(
            "doc_id",
            D.feature_hashes(F.col("sh"), 0).alias("h0"),
            D.feature_hashes(F.col("sh"), 1).alias("h1"),
        ).repartition("doc_id")
        return hashed.select(
            "doc_id",
            D.simhash64_blocks(F.col("h0"), F.col("h1")).alias("blocks"),
            F.size("h0").alias("_nsh"),
        )

    return _simhash_query(spark, sf_dir, sig_of_sh, routed)


def q_dedup_simhash_fast(
    spark: SparkSession,
    sf_dir: str,
    routed: bool = True,
) -> DataFrame:
    """Production-hash SimHash (r8): ONE xxhash64 per shingle carrying
    all 64 signature bits (the md5 path pays two md5-string portable
    hashes per shingle — the sf1 profile's dominant term), majority
    fold via the 64-bit Arrow kernel, identical LSH/verify downstream,
    routed through exact text dedup like the md5 family.
    Rows-only checked (xxhash64 isn't SQL-portable); fixture pair-set
    agreement with the oracled md5 family is asserted in pytest — the
    families can legitimately differ near the hamming threshold (no
    exact verify step in SimHash), the injected dups sit far from it."""

    def sig_of_sh(sh: DataFrame) -> DataFrame:
        # no filter below the stage (r16) — see the md5 family's note:
        # the exclusion rides the staged `_nsh` column instead. The
        # Arrow fold calls len() on every hash array, so `h` must never
        # be NULL: `shingles` maps a NULL text to an empty array today,
        # and the coalesce keeps that contract local (a NULL-text
        # document folds to zero blocks and drops above the cut at
        # _nsh = 0). It also types `h` non-nullable, which lets the
        # optimizer drop the isnotnull(_nsh) check above the cut.
        hashed = sh.select(
            "doc_id",
            F.coalesce(
                D.feature_hashes_fast(F.col("sh")), F.array().cast("array<bigint>")
            ).alias("h"),
        ).repartition("doc_id")
        return hashed.select(
            "doc_id",
            D.make_simhash_blocks64_arrow()(F.col("h")).alias("blocks"),
            F.size("h").alias("_nsh"),
        )

    return _simhash_query(spark, sf_dir, sig_of_sh, routed)


def _simhash_query(
    spark: SparkSession, sf_dir: str, sig_of_sh, routed: bool
) -> DataFrame:
    """Shared scaffold of both SimHash families (review finding, r8 —
    only the shingle->signature step differs): corpus, optional
    exact-text-dedup routing, empty-shingle exclusion, signature stage,
    block LSH + min-block emission + hamming verify, routed fan-out."""
    corpus = _corpus(spark, sf_dir)
    if routed:
        reps, mem = D.exact_text_dedup(corpus)
        src = reps
    else:  # pre-r8 reference twin for the A/B + equivalence tests
        src = corpus
    # empty-shingle exclusion ABOVE the stage's checkpoint cut (r16):
    # sig_of_sh carries size(h) through as the materialized `_nsh`
    # column (transform preserves length, so size(h)>0 <=> size(sh)>0 —
    # exact), and the filter reads it for pennies. Any placement BELOW
    # the cut — including after the repartition barrier, where r15 put
    # it — is pushdown-substituted into the shingle+hash chain and
    # re-evaluates it per raw row at the scan (ADVICE r15 #1, verified
    # in plans/r16/simhash_staged_subtree_before.txt).
    sh = src.select("doc_id", D.shingles(F.col("text")).alias("sh"))
    sigs = (
        sig_of_sh(sh)
        .transform(stage)
        .filter(F.col("_nsh") > 0)
        .select("doc_id", "blocks")
    )
    pairs = _simhash_pairs_from_sigs(sigs)
    if not routed:
        return pairs
    # Clones share blocks, so a member pair's hamming IS its rep pair's
    # and intra-clone pairs sit at hamming 0. Only members whose group
    # produced postings fan out (non-empty shingles — the same exclusion
    # the raw pipeline applies).
    live = mem.join(
        sigs.select(F.col("doc_id").alias("_rid")), "_rid", "left_semi"
    ).transform(stage)
    return D.fan_out_clones(
        pairs, live, "doc_id", {"hamming": F.lit(0).cast("long")}
    )


def _simhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Shared LSH + verify downstream of both SimHash families:
    pigeonhole block join, min-block emission, exact hamming.
    ``sigs`` must arrive STAGED (callers stage() it): the explode
    below is self-joined AND the routed fan-out semi-joins the id list,
    so an unstaged signature subtree would re-run per consumer."""
    exploded = sigs.select(
        "doc_id", "blocks", F.posexplode("blocks").alias("block_id", "block_val")
    )
    # MIN-BLOCK EMISSION (r8, replacing `.distinct()`): a pair colliding
    # in k blocks used to emit k rows into a full-candidate-multiset
    # exchange (the duplicates live in DIFFERENT partitions — one per
    # colliding block key — so distinct's map-side partial combine never
    # collapsed them). Both sides already carry the full `blocks` array
    # for the hamming step, so each join row can decide LOCALLY whether
    # its block is the pair's FIRST colliding block and emit exactly
    # once — the dedup exchange disappears for free.
    first_collision = F.array_position(
        F.zip_with(F.col("a.blocks"), F.col("b.blocks"), lambda x, y: x == y),
        F.lit(True),
    )
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(first_collision == F.col("a.block_id") + 1)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.blocks").alias("blocks_a"),
            F.col("b.blocks").alias("blocks_b"),
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        D.hamming64(F.col("blocks_a"), F.col("blocks_b")).alias("hamming"),
    ).filter(F.col("hamming") <= HAMMING_MAX)


COSINE_DUP_MIN = 0.999


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: vectors whose cosine ≥ 0.999.

    The fixture embeddings are random (no near-dups), so the corpus
    injects copies: every 10th vector verbatim (id + 2M) and every 20th
    with its first component nudged (id + 1M) — cosine ≈ 1 but not
    bit-identical.

    Candidate pairs come from ``grid_near_dup_pairs_deduped`` (r7) —
    exact vector dedup first, then the grid-bucketed generation with
    provable full recall at this threshold over REPRESENTATIVES only,
    then output-linear fan-out (NO all-pairs cross join;
    ``tests/test_scale_paths.py`` asserts the physical plan has no
    cartesian/nested-loop join). On replicated corpora the near-dup
    output is quadratic in the clone count and the raw per-pair path
    pays it in candidates too: the routing took the 10x-cloned sf1
    corpus from 143.1 s to 3.1 s with an identical 143,500-pair set
    (checksummed; the raw operator stays the reference twin). ``k_dims``
    is derived from corpus size/threshold by ``similarity.grid_k_dims``
    (sizing rule in SCALING.md; recall is k-invariant, tested at
    k ∈ {2,3,4}). The DuckDB oracle stays the brute-force all-pairs
    ground truth, independently verifying the whole composition loses
    nothing."""
    from ..operators.similarity import grid_near_dup_pairs_deduped

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = emb.filter(F.col("vec_id") % EXACT_MOD == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    nudged = emb.filter(F.col("vec_id") % NEAR_MOD == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.01)).cast("float")),
            F.slice("embedding", 2, 1_000_000),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(exact).unionByName(nudged)
    # Derivation hints from the parquet footer (driver-side metadata
    # read, no Spark job) so k_dims sizing costs zero extra table
    # passes: base rows + the injected 1/EXACT_MOD + 1/NEAR_MOD copies.
    base = table_num_rows(sf_dir, "embeddings")
    # sizing hint = DISTINCT vectors (the grid runs over representatives
    # after the exact-dedup routing): the verbatim EXACT_MOD copies
    # collapse, the nudged NEAR_MOD copies stay distinct. Oversizing k
    # from the pre-dedup count would pay a larger 3^k probe explode for
    # nothing on exactly the replicated corpora the routing targets.
    n_rows = base + base // NEAR_MOD
    return grid_near_dup_pairs_deduped(
        corpus, threshold=COSINE_DUP_MIN, n_rows=n_rows, dim=EMBED_DIM
    )


SEM_CENTROIDS = 8  # SemDeDup cluster count at fixture scale


def _embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared injected-dup embedding corpus (verbatim + nudged copies,
    same recipe as q_dedup_embedding_cosine)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = emb.filter(F.col("vec_id") % EXACT_MOD == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    nudged = emb.filter(F.col("vec_id") % NEAR_MOD == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.01)).cast("float")),
            F.slice("embedding", 2, 1_000_000),
        ).alias("embedding"),
    )
    return emb.unionByName(exact).unionByName(nudged)


def _semantic_jvm_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-r8 q_dedup_semantic plan, kept as the reference twin:
    nearest-centroid assignment + within-cluster cosine self-join over
    EVERY member. sum(|cluster|^2) pair rows — on the 10x-cloned sf1
    corpus that was 189.6 s (the r7 sweep's worst row); the routed form
    below replaces it with an identical pair set (equivalence-tested,
    and A/B'd by scripts/ab_semantic_routing.py)."""
    from ..operators.similarity import assign_ivf_buckets, cosine

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = _embedding_corpus(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < SEM_CENTROIDS)
    assigned = assign_ivf_buckets(corpus, seeds)
    a = assigned.select(
        F.col("bucket_id").alias("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
    )
    b = assigned.select(
        F.col("bucket_id").alias("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= COSINE_DUP_MIN)
        .select("cluster_id", "id_a", "id_b")
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped near-dup pairs (arXiv:2303.09540: cluster the
    embeddings, compare pairs WITHIN a cluster only): nearest-centroid
    assignment + within-cluster cosine >= 0.999 self-join. Work is
    sum(|cluster|^2), not n^2, at the documented cost of missing
    cross-cluster pairs (the grid query is the full-recall twin;
    injected exact clones can never split — identical vectors assign
    identically).

    r8: ROUTED through exact vector dedup first, the last near-dup
    family to join the r7 routing law — on replicated corpora the
    within-cluster self-join pays the clone factor SQUARED in pair
    rows (the r7 sf1 sweep measured the unrouted plan at 189.6 s).
    Identical vectors assign identically, so a clone group lands
    wholesale in its representative's cluster and the pair partition
    is preserved by construction:

    1. collapse bit-identical vectors (64-bit hash + true
       array-equality verify; representative = min id);
    2. assignment + within-cluster cosine self-join over
       REPRESENTATIVES only — every step the JVM-fold cosine the SQL
       oracle mirrors term-for-term;
    3. fan out through ``dedup.fan_out_clones``: clone groups emit
       intra pairs in their rep's cluster, gated by the SAME
       cosine(v,v) >= threshold predicate the raw self-join applies to
       a pair of identical members.

    The DuckDB oracle is the UNROUTED full composition, so it
    independently verifies the routing loses nothing; the pre-r8 plan
    stays as `_semantic_jvm_pairs_raw` (equivalence-tested in
    tests/test_scale_paths.py; A/B in scripts/ab_semantic_routing.py);
    the production BLAS kernel (`similarity.semantic_dedup_pairs`) and
    its routed twin are pair-set-tested against both."""
    from ..operators.similarity import (
        assign_ivf_buckets,
        cosine,
        exact_vector_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = _embedding_corpus(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < SEM_CENTROIDS)

    # assigned additionally feeds the self-join's two sides + the intra
    # gate, hence its own stage
    reps, slim = exact_vector_dedup(corpus, "vec_id", "embedding")
    assigned = assign_ivf_buckets(
        reps.select(F.col("_rid").alias("vec_id"), F.col("_rv").alias("embedding")),
        seeds,
    ).transform(stage)

    # Parallelism-deficit-conditioned SALT on the low-cardinality join
    # key (r16, guide §2.5): the within-cluster self-join hashes on
    # cluster_id, whose key space is SEM_CENTROIDS (8) — at most 8
    # partitions regardless of shuffle settings, and AQE coalesced them
    # to ONE task carrying the whole Σ|cluster|² cosine verify (the
    # registry's slowest single stage: 4.5 s of CPU on one core at
    # sf0.1). Side a gets a deterministic salt (never rand() — task
    # retries must reproduce rows, guide §2.5), side b is exploded k
    # ways, so each (a, b) pair joins exactly once, on a key space of
    # SEM_CENTROIDS × k. Conditioned like every spread this round: only
    # when the embeddings input is split-starved (kernel_spread
    # non-None — a fixture-layout deficit); at real scale the cure is
    # centroid count scaling with the corpus, and the plan is
    # unchanged. Measured 6.6 -> 2.2 s sweep wall, pair set identical.
    import math

    k = 1
    if kernel_spread(spark, sf_dir, "embeddings") is not None:
        par = spark.sparkContext.defaultParallelism
        k = max(1, math.ceil(par / SEM_CENTROIDS))
    a = assigned.select(
        F.col("bucket_id").alias("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.pmod(F.xxhash64("vec_id"), F.lit(k)).cast("int").alias("_salt"),
    )
    b = assigned.select(
        F.col("bucket_id").alias("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_salt"),
    )
    rep_pairs = (
        a.join(b, ["cluster_id", "_salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= COSINE_DUP_MIN)
        .select("cluster_id", "id_a", "id_b")
    )
    # intra-clone pairs: the raw self-join evaluates cosine(va, vb) on
    # two identical arrays — the same expression as cosine(v, v) on the
    # rep, so degenerate inputs (zero-norm, threshold=1.0 rounding)
    # behave identically routed and raw
    self_pass = assigned.filter(
        cosine(F.col("embedding"), F.col("embedding")) >= COSINE_DUP_MIN
    ).select(F.col("vec_id").alias("_rid"), F.col("bucket_id").alias("cluster_id"))
    return D.fan_out_clones(
        rep_pairs, slim, "_gid", {"cluster_id": F.col("cluster_id")}, self_pass
    ).select("cluster_id", "id_a", "id_b")


def _routed_group_labels(rep_pairs: DataFrame, live: DataFrame) -> DataFrame:
    """(doc_id, group_id) labels from REP-level pairs + the member map —
    identical to ``connected_components`` over the fanned-out member
    pairs, without ever building them (r9: components distribute over
    the clone fan-out).

    Why it's exact: clones share postings, so every member-level edge is
    either the fan-out of a rep edge or an intra-clone edge. A member
    component is therefore a rep component expanded by clone groups, and
    its min member id equals the min REP id of the component — each rep
    id IS its clone group's min member id (exact_text_dedup's survivor
    rule). Three cases:

    - members of reps in the rep-pair graph inherit their rep's
      component label;
    - clone groups with >= 2 members whose rep has NO rep edge are a
      member component by themselves (intra pairs at jacc 1.0): label =
      rep id;
    - singleton members of edge-less reps appear in no pair, so they
      get no label row — exactly like member-level components.

    Equivalence is pytest-pinned against member-level components on the
    fixture and planted cases; the registered recursive-CTE oracle
    (member-level, unrouted) verifies it per round."""
    rep_labels = D.connected_components(rep_pairs.select("id_a", "id_b")).select(
        F.col("id").alias("_rid"), "group_id"
    )
    in_graph = live.join(rep_labels, "_rid").select("doc_id", "group_id")
    sizes = live.groupBy("_rid").agg(F.count("*").alias("_n"))
    clone_only = (
        live.join(rep_labels, "_rid", "left_anti")
        .join(sizes.filter(F.col("_n") >= 2), "_rid")
        .select("doc_id", F.col("_rid").alias("group_id"))
    )
    return in_graph.unionByName(clone_only)


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: the MinHash-LSH verified pairs resolved into
    connected components — ``group_id`` is each doc's canonical survivor
    (min reachable doc_id), so ``doc_id != group_id`` is the delete set.

    Pairs alone under-delete transitive duplicates (A~B, B~C must keep
    ONE of three, but pairwise resolution keeps two); the component
    step is what a retention decision actually consumes. The DuckDB
    oracle computes the same components with a recursive CTE over the
    MEMBER-level pair set, so the Spark side is value-checked end to
    end — including the r9 routing: components run on REP-level pairs
    and labels fan out through the member map (`_routed_group_labels`),
    never materializing the clone-quadratic member pair set at all."""
    rep_pairs, live = _minhash_parts(spark, sf_dir, fast=False)
    return _routed_group_labels(rep_pairs, live)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the retention step AFTER grouping:
    within each near-dup component keep the member with the highest
    quality score (tie → lowest doc_id), reporting the survivor, its
    score, and the group size. This is the policy real pipelines apply
    ("keep the best copy, not the first-seen copy"); min-id survivors
    (q_dedup_groups) are what you get when no quality signal exists.

    Scale shape: the component table is tiny relative to the corpus
    (only dup-involved docs appear), so the corpus join is
    hash-broadcast-able; the quality score is computed AFTER the join,
    for members only, not for the whole corpus; survivor selection is a
    single ``max_by(struct)`` hash aggregate — partial-aggregated
    map-side, no window over the full corpus. The DuckDB oracle resolves
    the same components with a recursive CTE and ranks with a window, so
    both the grouping AND the tie-break policy are value-checked."""
    corpus = _corpus(spark, sf_dir)
    rep_pairs, live = _minhash_parts(spark, sf_dir, fast=False)
    groups = _routed_group_labels(rep_pairs, live)
    members = groups.join(corpus, "doc_id").select(
        "doc_id",
        "group_id",
        X.quality_score(F.col("text")).alias("quality_score"),
    )
    # max_by on (quality, -doc_id): highest score wins, ties go to the
    # smallest doc_id — struct comparison is lexicographic in Spark
    best = F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nid"))
    return members.groupBy("group_id").agg(
        F.max_by("doc_id", best).alias("canonical_id"),
        F.max("quality_score").alias("best_quality"),
        F.count("*").alias("n_members"),
    )


def q_dedup_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard top-k: the 10 documents most similar to doc 0 by
    3-token-shingle Jaccard (brute force against a broadcast query doc)."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select("doc_id", D.shingles(F.col("text")).alias("sh"))
    query = sh.filter(F.col("doc_id") == 0).select(F.col("sh").alias("qsh"))
    return (
        sh.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(query))
        .select("doc_id", D.jaccard(F.col("sh"), F.col("qsh")).alias("jacc"))
        .orderBy(F.col("jacc").desc(), F.col("doc_id").asc())
        .limit(10)
    )


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_embedding_cosine": q_dedup_embedding_cosine,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_ngram_topk": q_dedup_ngram_topk,
    # pairs -> connected components (promoted r6: LLM-pipeline flagship,
    # recursive-CTE oracle below)
    "q_dedup_groups": q_dedup_groups,
}

EXTRA_QUERIES = {
    # xxhash64 twin of the registered md5 q_dedup_minhash_lsh; the hash
    # family isn't SQL-portable, so its real check is the pair-set
    # equivalence test in tests/test_tierb_operators.py.
    "q_dedup_minhash_fast": q_dedup_minhash_fast,
    # r8: xxhash64 + Arrow-fold twin of the registered md5 simhash
    # (rows-only; fixture pair-set agreement asserted in pytest)
    "q_dedup_simhash_fast": q_dedup_simhash_fast,
    # SemDeDup-shaped cluster-then-pairwise near-dup (full SQL oracle;
    # the grid query is the full-recall twin of the same threshold)
    "q_dedup_semantic": q_dedup_semantic,
    # keep-best-copy retention on top of the components (full oracle:
    # recursive CTE + quality-ranked window)
    "q_dedup_canonical": q_dedup_canonical,
}

_FP = "md5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')))"
_SHINGLED_SQL = f"""
corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, {D.normalized_tokens_sql('text')} AS t FROM corpus
),
shingled AS (
  SELECT doc_id, {D.shingles_from_tokens_sql('t')} AS sh FROM toks
  WHERE LEN({D.shingles_from_tokens_sql('t')}) > 0
)
"""

ORACLES = {
    "q_dedup_exact": f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT {_FP} AS content_key, MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
FROM corpus
GROUP BY 1
HAVING COUNT(*) >= 2
""",
    "q_dedup_minhash_lsh": f"""
WITH {_SHINGLED_SQL},
sigs AS (
  SELECT doc_id, sh, {D.band_keys_sql(D.minhash_signature_sql('sh'))} AS bands
  FROM shingled
),
banded AS (
  SELECT doc_id, b - 1 AS band_id, bands[b] AS band_hash
  FROM sigs, (SELECT unnest(range(1, {D.LSH_BANDS + 1})) AS b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b, {D.jaccard_sql('sa.sh', 'sb.sh')} AS jacc
FROM pairs p
JOIN shingled sa ON sa.doc_id = p.id_a
JOIN shingled sb ON sb.doc_id = p.id_b
WHERE {D.jaccard_sql('sa.sh', 'sb.sh')} >= {JACCARD_MIN}
""",
    "q_dedup_simhash": f"""
WITH {_SHINGLED_SQL},
hashed AS (
  SELECT doc_id, {D.feature_hashes_sql('sh', 0)} AS h0,
         {D.feature_hashes_sql('sh', 1)} AS h1
  FROM shingled
),
sigs AS (
  SELECT doc_id, {D.simhash64_blocks_sql('h0', 'h1')} AS blocks FROM hashed
),
blocks AS (
  SELECT doc_id, blocks, blk - 1 AS block_id, blocks[blk] AS block_val
  FROM sigs, (SELECT unnest(range(1, {D.SIMHASH_BLOCKS + 1})) AS blk)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.blocks AS blocks_a, b.blocks AS blocks_b
  FROM blocks a JOIN blocks b
    ON a.block_id = b.block_id AND a.block_val = b.block_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, {D.hamming64_sql('blocks_a', 'blocks_b')} AS hamming
FROM pairs
WHERE {D.hamming64_sql('blocks_a', 'blocks_b')} <= {HAMMING_MAX}
""",
    "q_dedup_embedding_cosine": f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id % {EXACT_MOD} = 0
  UNION ALL
  SELECT vec_id + 1000000,
         [CAST(embedding[1] + 0.01 AS REAL)] || embedding[2:]
  FROM embeddings WHERE vec_id % {NEAR_MOD} = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM corpus a, corpus b
WHERE a.vec_id < b.vec_id
  AND {cosine_sql('a.embedding', 'b.embedding')} >= 0.999
""",
    "q_dedup_ngram_topk": f"""
WITH {_SHINGLED_SQL},
query AS (SELECT sh AS qsh FROM shingled WHERE doc_id = 0)
SELECT s.doc_id, {D.jaccard_sql('s.sh', 'q.qsh')} AS jacc
FROM shingled s CROSS JOIN query q
WHERE s.doc_id != 0
ORDER BY jacc DESC, s.doc_id ASC
LIMIT 10
""",
}

# The verified-pair graph resolved to connected components with a
# recursive CTE: MIN reachable id per node — the ground truth the
# iterative Spark min-label propagation must converge to. Shared by the
# groups oracle and the canonical-survivor oracle below.
_COMPONENTS_CTE_SQL = f"""
WITH RECURSIVE {_SHINGLED_SQL},
sigs AS (
  SELECT doc_id, sh, {D.band_keys_sql(D.minhash_signature_sql('sh'))} AS bands
  FROM shingled
),
banded AS (
  SELECT doc_id, b - 1 AS band_id, bands[b] AS band_hash
  FROM sigs, (SELECT unnest(range(1, {D.LSH_BANDS + 1})) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT p.id_a, p.id_b
  FROM cand p
  JOIN shingled sa ON sa.doc_id = p.id_a
  JOIN shingled sb ON sb.doc_id = p.id_b
  WHERE {D.jaccard_sql('sa.sh', 'sb.sh')} >= {JACCARD_MIN}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified
),
reach(id, lbl) AS (
  SELECT DISTINCT src AS id, src AS lbl FROM edges
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (
  SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id
)
"""

EXTRA_ORACLES = {
    "q_dedup_groups": f"""
{_COMPONENTS_CTE_SQL}
SELECT doc_id, group_id FROM comp
""",
    # canonical survivor: within each component keep the member with the
    # highest quality score (tie -> lowest doc_id); same score SQL twin
    # as q_text_quality_score, applied to the injected-dup corpus
    "q_dedup_canonical": f"""
{_COMPONENTS_CTE_SQL},
scored AS (
  SELECT c.doc_id, c.group_id,
         {X.quality_score_sql('k.text')} AS quality_score
  FROM comp c JOIN corpus k ON k.doc_id = c.doc_id
),
ranked AS (
  SELECT group_id, doc_id, quality_score,
         ROW_NUMBER() OVER (
           PARTITION BY group_id
           ORDER BY quality_score DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY group_id) AS n_members,
         MAX(quality_score) OVER (PARTITION BY group_id) AS best_quality
  FROM scored
)
SELECT group_id, doc_id AS canonical_id, best_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rk = 1
""",
}

# promoted r6: q_dedup_groups is a registered driver row again
ORACLES["q_dedup_groups"] = EXTRA_ORACLES.pop("q_dedup_groups")

_SEM_CORPUS = f"""
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id % {EXACT_MOD} = 0
  UNION ALL
  SELECT vec_id + 1000000,
         [CAST(embedding[1] + 0.01 AS REAL)] || embedding[2:]
  FROM embeddings WHERE vec_id % {NEAR_MOD} = 0
"""

EXTRA_ORACLES["q_dedup_semantic"] = f"""
WITH corpus AS ({_SEM_CORPUS}),
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE vec_id < {SEM_CENTROIDS}
),
assign AS (
  SELECT c.vec_id, c.embedding, s.centroid_id,
    ROW_NUMBER() OVER (
      PARTITION BY c.vec_id
      ORDER BY {cosine_sql('c.embedding', 's.cvec')} DESC, s.centroid_id ASC
    ) AS rn
  FROM corpus c CROSS JOIN seeds s
),
clustered AS (
  SELECT vec_id, embedding, centroid_id AS cluster_id FROM assign WHERE rn = 1
)
SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b
FROM clustered a JOIN clustered b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.999
"""


def q_fuzzy_join_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance join (operators/fuzzy.py): supplier-name
    pairs within Levenshtein distance 1 via symmetric-deletion blocking
    — candidates from an equi-join on shared depth-1 deletion variants
    (provably full recall at d=1), verified with exact levenshtein.
    The fuzzy sibling of the exact-key dedup the reference runs
    (helper_functions.py:183 dropDuplicates); never all-pairs — the
    oracle below IS the all-pairs plan, which only DuckDB at test scale
    can afford.

    r9: runs the ROUTED production plan (``fuzzy_join_deduped``), like
    the d2 extra and every other near-dup family — exact-name dedup
    first, deletion-variant join over distinct-name representatives,
    output-linear member fan-out. sf1: 17.8 -> 1.4 s warm for the
    identical 1,395,000 pairs; the raw ``fuzzy_join_d1`` leg stays the
    public A/B twin under the hypothesis pair-set-equality test. The
    all-pairs oracle is unrouted, so the driver hash check verifies
    the routing."""
    from ..operators.fuzzy import fuzzy_join_deduped

    sup = load_table(spark, sf_dir, "supplier")
    out = fuzzy_join_deduped(sup, "s_suppkey", "s_name", max_dist=1)
    return out.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


# registered driver row (r6 second batch: took the slot of the
# near-twin q_scalar_datetime — the fuzzy join is a flagship, the
# datetime family stays driver-covered via the changelog queries)
QUERIES["q_fuzzy_join_d1"] = q_fuzzy_join_d1
ORACLES["q_fuzzy_join_d1"] = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
FROM supplier a
JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


def q_fuzzy_join_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 sibling of q_fuzzy_join_d1: pairs within Levenshtein
    distance 2, running the ROUTED production plan
    (``fuzzy.fuzzy_join_deduped``): exact-name dedup first ->
    depth-2 deletion-neighborhood join over distinct-name
    representatives (O(L^2/2) keys/rep — the documented ceiling of
    the symmetric-deletion scheme) -> output-linear member fan-out.

    r9 (r8 verdict #2): this extra previously ran the RAW depth-2
    blocking (``fuzzy.fuzzy_join``) — the sf1 sweep's slowest row at
    269.8 s, while the routed plan produced the identical pair set in
    41.1 s. Every other near-dup family already made routed the
    production default; the raw leg stays a public operator
    (``fuzzy.fuzzy_join``) exercised by the hypothesis equivalence
    test (tests/test_fuzzy_timeseries.py::
    test_fuzzy_join_deduped_pair_set_equals_raw) and the sf-scale A/B
    (scripts/ab_routing_scale.py). The all-pairs DuckDB oracle below is
    UNROUTED, so the hash check independently verifies the routing.
    ``dist`` cast to int to match the oracle's type exactly.

    r16: passes the scan-split-conditioned ``spread``
    (catalog.kernel_spread) so the deletion-neighborhood self-join +
    Levenshtein verify — 3.2 s of CPU that AQE packed into 2 tasks at
    sf0.1 — runs at session parallelism on split-starved fixtures:
    measured 3.98 -> 2.09 s median, pair set identical. d1 stays
    unspread (measured WORSE: 0.76 -> 1.05 s; its kernel is too cheap
    for the extra exchange). At real scale spread is None."""
    from ..catalog import kernel_spread
    from ..operators.fuzzy import fuzzy_join_deduped

    sup = load_table(spark, sf_dir, "supplier")
    out = fuzzy_join_deduped(
        sup,
        "s_suppkey",
        "s_name",
        max_dist=2,
        spread=kernel_spread(spark, sf_dir, "supplier"),
    )
    return out.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


EXTRA_QUERIES["q_fuzzy_join_d2"] = q_fuzzy_join_d2
EXTRA_ORACLES["q_fuzzy_join_d2"] = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
FROM supplier a
JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""
