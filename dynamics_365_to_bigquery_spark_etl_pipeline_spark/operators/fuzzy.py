"""Blocked fuzzy (edit-distance) string join.

The reference has no fuzzy matching, but entity resolution over CDC
streams (its domain: customer/supplier master data,
``incremental_etl_v1.py:43-46`` entity folders) is the canonical next
step after exact-key dedup — near-identical names that exact
``dropDuplicates`` (``helper_functions.py:183``) cannot catch.

Candidate generation is the symmetric-deletion scheme (public
"SymSpell" / FastSS family): every string emits its depth-1 deletion
neighborhood — itself plus each string obtainable by deleting ONE
character. Two strings with Levenshtein distance <= 1 ALWAYS share a
neighborhood member:

- equal:         s itself is shared;
- substitution:  deleting the substituted position from both sides
                 yields the same string;
- insert/delete: the shorter string IS a member of both neighborhoods.

So an equi-join on the variant key has provably full recall at d=1;
sharing a variant only bounds the distance by 2, so candidates are
verified with exact ``levenshtein`` — the same generate-bucketed-
candidates-then-verify shape as the MinHash/SimHash/grid family
(operators/dedup.py, operators/similarity.py): never all-pairs.

Scale: O(L+1) keys per row (L = string length), uniform-ish variant
buckets, one shuffle for the equi-join, verification only on candidate
pairs. At d >= 2 the deletion neighborhood grows O(L^d); the public
alternative is PassJoin-style segment blocking (partition into d+1
segments; pigeonhole guarantees a shared segment *substring*), which
trades key count for substring-match probing. d=1 covers the
master-data typo case and keeps the join a pure equality bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import connected_components, fan_out_clones


def deletion_variants(s: Column) -> Column:
    """Array of the depth-1 deletion neighborhood of ``s``: element 0 is
    ``s`` itself, element i (1-based position) is ``s`` with character i
    removed. Distinct-ified by the caller (duplicate variants arise from
    repeated characters).

    The ``transform`` lambda references the outer column, which HOFs
    re-evaluate per element (no subexpression elimination) — fine here
    because ``s`` is a plain storage column, not a derived expression;
    pre-materialize derived inputs before calling (same caveat as
    ``curation.word_ngrams``)."""
    return F.transform(
        F.sequence(F.lit(0), F.length(s)),
        lambda i: F.when(i == 0, s).otherwise(
            F.concat(F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1))
        ),
    )


def deletion_neighborhood(s: Column, d: int) -> Column:
    """Distinct strings reachable from ``s`` by deleting UP TO ``d``
    characters (includes ``s`` itself). Size grows O(L^d / d!), so this
    is practical for d <= 2; beyond that, PassJoin-style segment
    blocking is the public alternative (see module docstring).

    Built by composing depth-1 expansions: the inner ``transform``
    lambda only touches its element variable, so nesting stays
    per-element work, not a recompute of the whole outer subtree."""
    out = F.array_distinct(deletion_variants(s))
    for _ in range(d - 1):
        out = F.array_distinct(
            F.flatten(F.transform(out, lambda v: deletion_variants(v)))
        )
    return out


def fuzzy_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    spread: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) whose ``str_col`` values are within
    Levenshtein distance ``max_dist``. Returns (id_a, id_b, dist).

    The symmetric-deletion guarantee generalizes: lev(s, t) <= d
    implies the depth-d deletion neighborhoods of s and t intersect
    (delete from each side the characters the optimal alignment
    inserts/substitutes), so the variant equi-join keeps full recall at
    any d; sharing a variant only bounds the distance by 2d, so exact
    ``levenshtein`` verifies every candidate.

    Plan: explode the distinct neighborhood (O(L^d) rows per input
    row), self-equi-join on the variant — Catalyst plans a shuffled
    hash join on uniform keys, NO cartesian — dedupe candidate pairs,
    then verify with exact JVM ``levenshtein``. NULL strings cannot
    match anything and are dropped up front. d is capped at 2: key
    volume beyond that loses to the verification it saves."""
    if not 1 <= max_dist <= 2:
        raise ValueError(
            f"max_dist={max_dist}: symmetric-deletion blocking is "
            "practical for 1 <= d <= 2 (keys grow O(L^d)); use exact "
            "dedup for d=0, PassJoin segment blocking beyond"
        )
    base = df.select(
        F.col(id_col).alias("_fid"), F.col(str_col).alias("_fs")
    ).where(F.col(str_col).isNotNull())
    exploded = base.select(
        "_fid",
        "_fs",
        F.explode(deletion_neighborhood(F.col("_fs"), max_dist)).alias("_v"),
    )
    if spread:
        # scan-split-conditioned spread (r16, guide §2.5/§6): callers
        # pass catalog.kernel_spread(...) — an explicit partition count
        # on the VARIANT key pins the self-join's exchange at `spread`
        # partitions instead of AQE's coalesce-to-~2, so the join +
        # distinct + Levenshtein verification (the d=2 plan's dominant
        # CPU: 3.2 s packed into 2 tasks at sf0.1) uses every core.
        # Measured d=2: 3.98 -> 2.09 s median, rows identical; d=1 was
        # measured WORSE (0.76 -> 1.05 s — the kernel is too cheap for
        # the extra exchange), so only the d=2 caller passes it. At
        # real scale kernel_spread returns None and AQE keeps sizing
        # the exchange by bytes.
        exploded = exploded.repartition(spread, "_v")
    a = exploded.alias("a")
    b = exploded.alias("b")
    cands = (
        a.join(b, F.col("a._v") == F.col("b._v"))
        .where(F.col("a._fid") < F.col("b._fid"))
        .select(
            F.col("a._fid").alias("id_a"),
            F.col("b._fid").alias("id_b"),
            F.col("a._fs").alias("s_a"),
            F.col("b._fs").alias("s_b"),
        )
        .distinct()
    )
    dist = F.levenshtein("s_a", "s_b")
    return (
        cands.where(dist <= max_dist)
        .select("id_a", "id_b", dist.alias("dist"))
    )


def fuzzy_join_d1(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Depth-1 convenience wrapper (see ``fuzzy_join``)."""
    return fuzzy_join(df, id_col, str_col, max_dist=1)


def fuzzy_join_deduped(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    spread: int | None = None,
) -> DataFrame:
    """``fuzzy_join`` routed through exact dedup first — the composition
    the d=2 docstring prescribes for clone-heavy corpora, now a real
    operator. Pair-set IDENTICAL to ``fuzzy_join`` (tested), built as:

    1. collapse rows to DISTINCT strings, representative = min id;
    2. run the deletion-variant fuzzy join over representatives only —
       the O(L^d) key explosion and the candidate verification now pay
       |distinct strings|, not |rows|;
    3. fan results back out through ``dedup.fan_out_clones``: clones
       share a string, so a member pair's dist is its rep pair's, and
       exact-duplicate groups contribute their intra-group pairs at
       dist 0.

    Where it wins: replication-heavy data (CDC landing zones, cloned
    benchmark corpora). The sf1 fixture clones every supplier name 10x
    (10,000 rows, 1,000 distinct names), so step 2 runs on 10% of the
    rows and the d=2 variant keys shrink 10x — measured 292.9 s ->
    48.3 s (6.1x) at sf1 d=2, identical 14,269,500-pair set by count +
    hashsum (SCALING.md round-7 section). Where it doesn't: all-unique
    strings (reps == rows; the detour adds two cheap equi-joins). The dist-0
    convention matches ``fuzzy_join``: equal strings ARE emitted as
    pairs with dist 0."""
    base = df.select(
        F.col(id_col).alias("_fid"), F.col(str_col).alias("_fs")
    ).where(F.col(str_col).isNotNull())
    reps = base.groupBy("_fs").agg(F.min("_fid").alias("_rid"))
    # members with their group's representative id (equi-join on the
    # string — the same key the groupBy shuffled on, so AQE/exchange
    # reuse keeps this cheap)
    mem = base.join(reps, "_fs")

    rep_pairs = fuzzy_join(
        reps, "_rid", "_fs", max_dist, spread=spread
    )  # dist >= 1 only

    return fan_out_clones(rep_pairs, mem, "_fid", {"dist": F.lit(0)})


def resolve_entities(
    df: DataFrame, id_col: str, str_col: str, max_dist: int = 1
) -> DataFrame:
    """Entity resolution over a master-data table: fuzzy-match names
    within ``max_dist`` edits (``fuzzy_join``), connect matches into
    clusters (``dedup.connected_components`` star contraction),
    and map EVERY row — singletons included — to its cluster's
    canonical id (the smallest member id, the same survivor rule as the
    dedup family). Returns (id, canonical_id, n_members).

    This is the composition the reference's domain actually needs
    downstream of exact-key dedup (``helper_functions.py:183``):
    customer/supplier rows that differ by a typo collapse to one
    golden record. Every stage is bucketed or key-partitioned — fuzzy
    candidates by deletion variant, components by pair keys, sizes by
    canonical id; nothing is all-pairs.

    NOTE on the synthetic fixtures: sequentially-numbered names (e.g.
    ``Supplier#0000000NN``) are ALL within one edit of a neighbor, so
    the d<=1 graph over them is one giant component — real master data
    is sparse. The semantics are therefore pinned by planted-name unit
    tests rather than a fixture-scale oracle query."""
    pairs = fuzzy_join(df, id_col, str_col, max_dist).select("id_a", "id_b")
    comps = connected_components(pairs)
    resolved = (
        df.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select(
            "id", F.coalesce("group_id", F.col("id")).alias("canonical_id")
        )
    )
    w = Window.partitionBy("canonical_id")
    return resolved.select(
        "id", "canonical_id", F.count("*").over(w).alias("n_members")
    )
