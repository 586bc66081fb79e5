"""Edge-case unit tests for the Tier B operator library: shingling,
Jaccard, MinHash, SimHash, cosine, and text metrics on boundary inputs
(empty/short strings, identical inputs, self-similarity).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import dedup as D
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import similarity as S
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import text as X

from .conftest import SF_SMOKE


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("one two",), ("",), ("a b c d",)], ["text"])
    out = df.select(D.shingles(F.col("text")).alias("sh")).collect()
    assert out[0].sh == []  # fewer than k=3 tokens
    assert out[1].sh == []
    assert out[2].sh == ["a b c", "b c d"]


def test_jaccard_bounds(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"])], ["x", "y"])
    assert df.select(D.jaccard(F.col("x"), F.col("y")).alias("j")).first().j == 1.0
    df2 = spark.createDataFrame([(["a"], ["b"])], ["x", "y"])
    assert df2.select(D.jaccard(F.col("x"), F.col("y")).alias("j")).first().j == 0.0
    df3 = spark.createDataFrame([([], [])], "x array<string>, y array<string>")
    assert df3.select(D.jaccard(F.col("x"), F.col("y")).alias("j")).first().j == 0.0


def test_minhash_identical_texts_identical_signatures(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, t), (2, t), (3, "totally different words here")], ["id", "text"])
    sigs = df.select(
        "id", D.minhash_signature(D.shingles(F.col("text"))).alias("sig")
    ).collect()
    by_id = {r.id: r.sig for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    assert len(by_id[1]) == D.N_MINHASH


def test_simhash_identical_zero_hamming(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, t), (2, t)], ["id", "text"])
    rows = df.select(D.simhash64(F.col("text")).alias("s"))
    sims = [r.s for r in rows.collect()]
    assert sims[0] == sims[1]
    assert len(sims[0]) == D.SIMHASH_BLOCKS
    assert all(0 <= b < 2**D.SIMHASH_BLOCK_BITS for b in sims[0])
    paired = spark.createDataFrame([(sims[0], sims[1])], "a array<long>, b array<long>")
    assert paired.select(D.hamming64(F.col("a"), F.col("b")).alias("h")).first().h == 0


def test_simhash_block_key_space_is_16_bit(spark):
    """Scale guard (VERDICT r2 #3): the LSH join key must have a 2^16
    value space per block — an 8-bit scheme (1,024 total buckets) goes
    quadratic at corpus scale. Checked structurally (block width) and
    empirically (observed block values exceed the old 8-bit ceiling)."""
    assert 2**D.SIMHASH_BLOCK_BITS >= 2**16
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    sigs = docs.select(D.simhash64(F.col("text")).alias("blocks"))
    vals = sigs.select(F.explode("blocks").alias("v"))
    stats = vals.agg(F.max("v").alias("mx"), F.min("v").alias("mn")).first()
    assert 0 <= stats.mn and stats.mx < 2**16
    assert stats.mx > 255, "block values never exceed 8 bits — key space collapsed"


def test_simhash_finds_injected_dups_without_blowup(spark):
    """The 64-bit scheme must find every injected exact-copy pair and a
    sane near-dup tail — NOT the 28%-of-all-pairs blowup the 32-bit
    hamming<=3 scheme produced (46,653 pairs from ~575 docs at sf0.01)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        q_dedup_simhash,
    )

    sf = "/root/testdata/sf0.001"
    pairs = {(r.id_a, r.id_b): r.hamming for r in q_dedup_simhash(spark, sf).collect()}
    exact = {(d, d + 2_000_000) for d in range(0, 500, 10)}
    assert all(p in pairs and pairs[p] == 0 for p in exact)
    # 500 docs + 50 exact + 25 near copies => ~165k unordered pairs; a
    # selective signature returns the duplicate structure, not n^2/4.
    # (Near copies sit at avg hamming ~7 — Manku-style hamming<=3 finds
    # only the closest; the MinHash query is the jaccard-0.5 recall
    # path. Exact copies are ALWAYS found at hamming 0.)
    assert len(pairs) < 300, f"{len(pairs)} pairs — blocking not selective"


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    got = spark.createDataFrame([("hello world",)], ["s"]).select(
        D.portable_hash(F.col("s"), 7).alias("h")
    ).first().h
    sql_expr = D.portable_hash_sql("'hello world'", 7)
    want = duckdb.sql(f"SELECT {sql_expr}").fetchone()[0]
    assert got == want


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<float>")
    sim = df.select(S.cosine(F.col("v"), F.col("v")).alias("c")).first().c
    assert sim == pytest.approx(1.0, abs=1e-12)


def test_brute_force_topk_excludes_self(spark):
    rows = [(i, [float(i), 1.0]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert (0, 0) not in got
    assert len(got) == 4


def test_minhash_fast_finds_same_pairs_as_portable(spark):
    """xxhash64 production path and md5 verification path must find the
    same duplicate pairs (different hash families, same LSH geometry +
    same exact-Jaccard verification)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        q_dedup_minhash_fast,
        q_dedup_minhash_lsh,
    )

    sf = "/root/testdata/sf0.001"
    slow = {(r.id_a, r.id_b) for r in q_dedup_minhash_lsh(spark, sf).collect()}
    fast = {(r.id_a, r.id_b) for r in q_dedup_minhash_fast(spark, sf).collect()}
    # Exact copies (jaccard 1.0) band identically under ANY hash family
    # — both paths MUST find them all. Near-dup banding is probabilistic
    # per family (a j=0.5 pair hits with p≈0.9 at 8 bands of 2), so the
    # overall pair sets need only agree at high rate.
    exact_pairs = {(d, d + 2_000_000) for d in range(0, 500, 10)}
    assert exact_pairs <= slow and exact_pairs <= fast
    overlap = len(slow & fast) / max(len(slow | fast), 1)
    assert overlap >= 0.9, f"pair-set agreement too low: {overlap:.2f}"


def test_approx_distinct_within_tolerance(spark):
    """HLL sketches can't be SQL-oracled (engine-specific), so verify
    them against the exact twin with the documented error bound:
    approx_count_distinct's default rsd is 5%; assert within 3x that."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.functions_queries import (
        q_approx_distinct,
    )

    sf = "/root/testdata/sf0.01"
    approx = {
        r.l_returnflag: (r.approx_orders, r.approx_parts)
        for r in q_approx_distinct(spark, sf).collect()
    }
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table

    exact = {
        r.l_returnflag: (r.n_orders, r.n_parts)
        for r in load_table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for flag, (a_ord, a_part) in approx.items():
        e_ord, e_part = exact[flag]
        assert abs(a_ord - e_ord) <= 0.15 * e_ord, (flag, a_ord, e_ord)
        assert abs(a_part - e_part) <= 0.15 * e_part, (flag, a_part, e_part)


def test_approx_quantiles_within_tolerance(spark):
    """percentile_approx with accuracy=1000 bounds the RANK error by
    n/1000; verify the approximate median sits between the exact p40
    and p60 of its group (a much tighter band than the guarantee)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.functions_queries import (
        q_approx_quantiles,
    )

    sf = "/root/testdata/sf0.01"
    approx = {
        r.o_orderstatus: r.median_approx for r in q_approx_quantiles(spark, sf).collect()
    }
    bands = {
        r.o_orderstatus: (r.p40, r.p60)
        for r in load_table(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.4).alias("p40"),
            F.percentile("o_totalprice", 0.6).alias("p60"),
        )
        .collect()
    }
    assert set(approx) == set(bands) and len(bands) > 0
    for status, med in approx.items():
        lo, hi = bands[status]
        assert lo <= med <= hi, (status, med, lo, hi)


def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one",), (" a  b ",)], ["t"])
    out = [r.n for r in df.select(X.token_count(F.col("t")).alias("n")).collect()]
    assert out == [0, 0, 1, 2]


def test_fingerprint_normalizes_punctuation(spark):
    df = spark.createDataFrame(
        [("Hello, World!",), ("hello   world",), ("HELLO world.",)], ["t"]
    )
    fps = {r.f for r in df.select(X.fingerprint(F.col("t")).alias("f")).collect()}
    assert len(fps) == 1


def test_connected_components_resolves_transitive_chains(spark):
    """A~B, B~C must land in ONE group with the min id as survivor —
    pairwise resolution would keep two of three. Includes a 4-node
    chain (propagation needs >1 round) and isolated pairs."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (23, 22), (21, 22), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {(r.id, r.group_id) for r in D.connected_components(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_connected_components_star_closes_long_chains_in_log_rounds(spark):
    """r8 verdict #3: min-label propagation pays O(graph diameter)
    rounds of full shuffles plus a driver count per round — a planted
    64-link chain (the worst case for propagation: the min label
    travels ONE hop per round) needs ~64 rounds that way, while the
    alternating large-star/small-star contraction closes it in
    O(log n). The measured round-count drop at chain length 1000 (11
    star rounds against 1001 propagation rounds) is recorded in
    SCALING.md."""
    n = 64
    # the component min (0) sits at one END of the chain, so its label
    # must travel all n hops — propagation's slowest configuration
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    star = {
        (r.id, r.group_id)
        for r in D.connected_components(chain).collect()
    }
    star_rounds = D.LAST_CC_ROUNDS["star"]
    assert star == {(i, 0) for i in range(n + 1)}
    assert star_rounds <= 12, star_rounds  # ~2*log2(64)+slack, NOT ~64

    # the safety valve keeps its fail-loud contract
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iters=2).collect()


def test_sample_frames_windows_and_decoder_injection(spark):
    """Frame sampler: deterministic byte windows (count/offset/tail
    size), empty payloads yield no frames, and a custom frame_decoder
    plugs into the same plumbing."""
    import hashlib

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.multimodal import (
        attach_binary,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "a" * 40), (2, "")], ["doc_id", "text"]
    )
    binary = attach_binary(docs)
    got = {
        (r.doc_id, r.frame_id, r.byte_offset, r.n_bytes, r.frame_md5)
        for r in sample_frames(binary, frame_size=16, stride=2).collect()
    }
    # 40 bytes -> frames 0,1,2 (sizes 16,16,8); stride 2 keeps 0 and 2
    md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    assert got == {
        (1, 0, 0, 16, md5(b"a" * 16)),
        (1, 2, 32, 8, md5(b"a" * 8)),
    }

    # decoder injection: a "codec" that emits two fixed frames per doc
    def fake_codec(payload, mime):
        return [payload[:4], payload[4:8]]

    with_codec = {
        (r.doc_id, r.frame_id, r.n_bytes)
        for r in sample_frames(
            binary.filter("doc_id = 1"), frame_size=16, stride=1,
            frame_decoder=fake_codec,
        ).collect()
    }
    assert with_codec == {(1, 0, 4), (1, 1, 4)}


def test_feature_twins_decoder_parity_and_null_payloads(spark):
    """The mapInPandas and mapInArrow feature twins must agree with a
    custom decoder injected into EITHER, and a NULL payload must yield
    the explicit (n_bytes=-1, first_byte=-1, content_md5=NULL) row in
    both — never a worker-side TypeError."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.multimodal import (
        extract_features,
        extract_features_arrow,
    )

    binary = spark.createDataFrame(
        [(1, b"hello", {"mime": "text/plain", "n_bytes": 5}),
         (2, None, {"mime": "text/plain", "n_bytes": 0})],
        "doc_id long, payload binary, meta struct<mime:string,n_bytes:int>",
    )

    def fake_decoder(payload, mime):
        return {
            "mime": mime,
            "n_bytes": len(payload),
            "first_byte": payload[0],
            "content_md5": f"decoded:{len(payload)}",
        }

    def rows(df):
        return {
            (r.doc_id, r.n_bytes, r.first_byte, r.content_md5)
            for r in df.collect()
        }

    want = {(1, 5, ord("h"), "decoded:5"), (2, -1, -1, None)}
    assert rows(extract_features(binary, decoder=fake_decoder)) == want
    assert rows(extract_features_arrow(binary, decoder=fake_decoder)) == want

    # default (no-decoder) path: same NULL contract in both twins
    got_p = rows(extract_features(binary))
    got_a = rows(extract_features_arrow(binary))
    assert got_p == got_a
    assert (2, -1, -1, None) in got_p


def test_connected_components_capped_iters_raises_not_lies(spark):
    """max_iters is a safety valve: exhausting it must RAISE, never
    return stale (wrong) group labels; the default (uncapped) run
    converges on the same chain."""
    import pytest

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 > cap 3
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(pairs, max_iters=3).collect()
    got = {(r.id, r.group_id) for r in D.connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(13)}


def test_sample_frames_codec_offsets_are_cumulative(spark):
    """With an injected variable-width codec, byte_offset must be the
    cumulative decoded position, not fid*frame_size."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.multimodal import (
        attach_binary,
        sample_frames,
    )

    docs = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])

    def varcodec(payload, mime):
        # frames of 3, 2, 5 bytes -> offsets 0, 3, 5
        return [payload[:3], payload[3:5], payload[5:]]

    got = {
        (r.frame_id, r.byte_offset, r.n_bytes)
        for r in sample_frames(
            attach_binary(docs), frame_size=16, stride=1, frame_decoder=varcodec
        ).collect()
    }
    assert got == {(0, 0, 3), (1, 3, 2), (2, 5, 5)}


def test_hll_sketches_exact_and_mergeable(spark):
    """The HLL sketch query's estimates match exact counts at fixture
    cardinality, and sketches are MERGEABLE: per-batch sketches unioned
    with hll_union_agg give the same estimate as one whole-corpus
    sketch — the property that makes distinct-count rollups O(#sketches)
    at scale."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.functions_queries import (
        q_hll_distinct_users,
    )

    sf = "/root/testdata/sf0.01"
    rows = q_hll_distinct_users(spark, sf).collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r.est_users - r.exact_users) <= max(1, 0.05 * r.exact_users)

    ev = load_table(spark, sf, "events")
    halves = [
        ev.filter(F.col("event_id") % 2 == i).agg(
            F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
        )
        for i in (0, 1)
    ]
    merged = (
        halves[0]
        .unionByName(halves[1])
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .first()
        .est
    )
    whole = (
        ev.agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .first()
        .est
    )
    assert merged == whole


def test_hll_sliding_from_merged_hourly_sketches(spark):
    """The sketch-rollup answering path: every 4-hour sliding window's
    distinct-user estimate, computed by UNIONING pre-aggregated hourly
    sketches, must (a) merge the right number of hourly sketches and
    (b) track the exact sliding distinct within HLL(lgK=14) error —
    proving overlapping windows never need to rescan raw events."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.functions_queries import (
        q_hll_sliding_distinct,
    )

    sf = "/root/testdata/sf0.001"
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table

    est = {
        (r.win_start, r.event_type): (r.est_users, r.n_hours_merged)
        for r in q_hll_sliding_distinct(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    hourly = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
        "user_id",
    )
    expanded = hourly.select(
        F.explode(
            F.sequence(
                F.col("hour_start") - F.expr("INTERVAL 3 HOURS"),
                F.col("hour_start"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("win_start"),
        "event_type",
        "user_id",
    )
    exact = {
        (r.win_start, r.event_type): r.n
        for r in expanded.groupBy("win_start", "event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact) and len(est) > 0
    for key, (e, n_hours) in est.items():
        assert 1 <= n_hours <= 4
        # lgK=14 keeps these cardinalities essentially exact; allow 2%
        assert abs(e - exact[key]) <= max(1, 0.02 * exact[key]), (
            key, e, exact[key],
        )


def test_simhash_arrow_fold_bit_identical_to_jvm(spark):
    """r8: the Arrow-vectorized majority fold must produce BIT-IDENTICAL
    block arrays to the JVM aggregate fold over the full fixture corpus
    (pure integer majority both ways). The fast family's ONE 64-bit hash
    per shingle folds exactly as the JVM two-array fold over its low
    and high 32 bits."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        _corpus,
    )

    corpus = _corpus(spark, SF_SMOKE)
    hashed = corpus.select(
        "doc_id", D.feature_hashes_fast(D.shingles(F.col("text"))).alias("h")
    ).filter(F.size("h") > 0)
    jvm = {
        r.doc_id: r.blocks
        for r in hashed.select(
            "doc_id",
            D.simhash64_blocks(
                F.col("h"), F.transform("h", lambda x: F.shiftright(x, 32))
            ).alias("blocks"),
        ).collect()
    }
    arrow = {
        r.doc_id: r.blocks
        for r in hashed.select(
            "doc_id", D.make_simhash_blocks64_arrow()(F.col("h")).alias("blocks")
        ).collect()
    }
    assert arrow == jvm and len(jvm) > 100


def test_simhash_fast_family_agreement(spark):
    """The xxhash64 fast family vs the oracled md5 family: pair sets
    legitimately differ near the hamming margin (SimHash has no exact
    verify), so the contract pinned here is (a) every injected EXACT
    clone is found by BOTH at hamming 0, (b) every pair either family
    emits is a GENUINE near-dup (true shingle-Jaccard >= 0.8 — no junk
    admissions), (c) the families agree on the core (>= 60% overlap)."""
    from pyspark.sql import functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import dedup as D
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        EXACT_MOD,
        _corpus,
        q_dedup_simhash,
        q_dedup_simhash_fast,
    )

    sf = "/root/testdata/sf0.01"
    md5p = {(r.id_a, r.id_b): r.hamming for r in q_dedup_simhash(spark, sf).collect()}
    fast = {
        (r.id_a, r.id_b): r.hamming
        for r in q_dedup_simhash_fast(spark, sf).collect()
    }

    corpus = _corpus(spark, sf)
    shingle_sets = {
        r.doc_id: set(r.sh)
        for r in corpus.select(
            "doc_id", D.shingles(F.col("text")).alias("sh")
        ).collect()
    }
    clones = {
        (r.doc_id, r.doc_id + 2_000_000)
        for r in corpus.filter(
            (F.col("doc_id") % EXACT_MOD == 0) & (F.col("doc_id") < 1_000_000)
        ).collect()
        if shingle_sets.get(r.doc_id)
    }
    assert clones and all(md5p.get(p) == 0 for p in clones)
    assert all(fast.get(p) == 0 for p in clones)

    def jac(a, b):
        A, B = shingle_sets[a], shingle_sets[b]
        return len(A & B) / len(A | B)

    for fam in (md5p, fast):
        assert all(jac(a, b) >= 0.8 for a, b in fam)
    inter, union = len(md5p.keys() & fast.keys()), len(md5p.keys() | fast.keys())
    assert inter / union >= 0.6, (inter, union)


def test_simhash_routed_equals_raw_both_families(spark):
    """r8: SimHash routed through exact text dedup must produce the
    IDENTICAL (id_a, id_b, hamming) set as the unrouted pipeline for
    BOTH hash families — identical texts share blocks, so rep pairs fan
    out with their rep hamming and clone intra pairs sit at hamming 0,
    exactly as the raw self-join computes them."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        q_dedup_simhash,
        q_dedup_simhash_fast,
    )

    sf = "/root/testdata/sf0.01"
    for fn in (q_dedup_simhash, q_dedup_simhash_fast):
        raw = {
            (r.id_a, r.id_b, r.hamming)
            for r in fn(spark, sf, routed=False).collect()
        }
        routed = [
            (r.id_a, r.id_b, r.hamming)
            for r in fn(spark, sf, routed=True).collect()
        ]
        assert len(routed) == len(set(routed))  # no duplicate pairs
        assert set(routed) == raw and len(raw) > 0


def test_simhash_arrow_folds_handle_empty_rows(spark, monkeypatch):
    """Review finding (r8): np.add.reduceat mis-segments around empty
    hash arrays — a TRAILING empty row crashed (start == total), and a
    mid-batch empty row could truncate its neighbor's segment under a
    naive clip. The 64-bit Arrow fold must yield exact majorities on
    non-empty rows and all-zero blocks for empty rows, wherever they
    sit in the batch; and a NULL-text document must reach it as an
    empty array (not crash on len(None)) and drop out of the fast
    SimHash family like any other empty-shingle document."""
    from pyspark.sql import functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import dedup as D
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import (
        dedup_queries as DQ,
    )

    # one partition so batch layout (incl. the trailing empty) is fixed
    df = spark.createDataFrame(
        [
            (1, [123]),
            (2, []),        # mid-batch empty
            (3, [7, 9]),
            (4, [-1, -1, 0]),
            (5, []),        # trailing empty (the crash repro)
        ],
        "id long, h array<long>",
    ).coalesce(1)
    b64 = {
        r.id: r.blocks
        for r in df.select(
            "id", D.make_simhash_blocks64_arrow()(F.col("h")).alias("blocks")
        ).collect()
    }
    assert b64[1] == [123, 0, 0, 0]  # a single hash is its own majority
    assert b64[3] == [7 & 9, 0, 0, 0]  # majority of 2 = both bits set
    assert b64[4] == [0xFFFF] * 4  # 2 of 3 hashes set every bit
    assert b64[2] == [0, 0, 0, 0] and b64[5] == [0, 0, 0, 0]

    # NULL text through the production fast-family pipeline
    real_corpus = DQ._corpus
    null_id = 3_000_000

    def corpus_with_null(spark_, sf_dir):
        return real_corpus(spark_, sf_dir).unionByName(
            spark_.createDataFrame([(null_id, None)], "doc_id long, text string")
        )

    monkeypatch.setattr(DQ, "_corpus", corpus_with_null)
    rows = DQ.q_dedup_simhash_fast(spark, SF_SMOKE).collect()
    assert rows
    assert all(null_id not in (r.id_a, r.id_b) for r in rows)


def test_connected_components_durable_cut_equivalent(spark, monkeypatch, tmp_path):
    """durable=True routes every round's lineage cut through Spark's
    RELIABLE checkpoint (files on the checkpoint FS — executor-loss
    resilience for long iterative runs) with labels identical to the
    executor-pinned default, and the checkpoint files actually exist."""
    import glob
    import os

    # the checkpoint dir is set ONCE per SparkContext (first durable
    # cut of the session wins), so count rdd-* dirs wherever it
    # actually points instead of assuming this test's scratch dir
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))

    def rdd_dirs():
        opt = spark.sparkContext._jsc.sc().checkpointDir()
        if opt.isEmpty():
            return set()
        path = opt.get().replace("file:", "")
        return set(glob.glob(os.path.join(path, "**", "rdd-*"), recursive=True))

    before = rdd_dirs()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(50, 51), (52, 51)],
        ["id_a", "id_b"],
    )
    durable = {
        (r.id, r.group_id)
        for r in D.connected_components(chain, durable=True).collect()
    }
    # check file presence IMMEDIATELY: cleanCheckpoints=true (session
    # conf) lets the ContextCleaner delete rdd-* dirs once the round
    # frames are GC'd, so probing after further heavy work is flaky
    new_dirs = rdd_dirs() - before
    assert new_dirs, "durable=True must write reliable-checkpoint RDD dirs"
    default = {
        (r.id, r.group_id)
        for r in D.connected_components(chain).collect()
    }
    assert durable == default
    assert {(i, 0) for i in range(21)} <= durable
