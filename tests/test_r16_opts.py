"""Round-16 optimization pins.

- ``explode_nonempty`` (the shared owner of every tokenizer/gram
  explode) is row-identical to plain ``explode``/``posexplode`` on
  empty, NULL and populated arrays, in both gate modes — and its plan
  carries NO Filter over the array-producing expression subtree (the
  inferred-filter pushdown trap it exists to prevent).
- the md5-family ``_minhash_parts`` session share: two fast=False calls
  in one session return the SAME staged frames; fast=True never shares
  (the bench-timed row must re-execute per rep); a rewritten documents
  table misses the memo, and concurrent first callers share one build.
- ``catalog.kernel_spread`` fires only on split-starved inputs, and
  ``catalog.scan_splits`` sizes a directory-layout table by its part
  files.
- the simhash staged subtree no longer evaluates the shingle chain
  inside a pushed Filter (ADVICE r15 #1).
- the IVF centroid cache key rides the meta token: a centroid rewrite
  that keeps name+generation+mtime still invalidates.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def sf_dir():
    return SF_DIR

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.expr_util import (
    explode_nonempty,
)


@pytest.fixture(scope="module")
def arrays_df(spark):
    return spark.createDataFrame(
        [
            (1, ["a", "b"]),
            (2, []),
            (3, None),
            (4, ["", "c"]),
        ],
        "id long, arr array<string>",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_explode_nonempty_matches_plain_explode(arrays_df):
    plain = arrays_df.select("id", F.explode("arr").alias("v"))
    ours = explode_nonempty(arrays_df, ["id"], "arr", "v")
    assert _rows(ours) == _rows(plain)


def test_explode_nonempty_pos_matches_posexplode(arrays_df):
    plain = arrays_df.select("id", F.posexplode("arr").alias("p", "v"))
    ours = explode_nonempty(arrays_df, ["id"], "arr", "v", pos_alias="p")
    assert _rows(ours) == _rows(plain)


def test_explode_nonempty_keep_gate(arrays_df):
    plain = arrays_df.select("id", F.explode("arr").alias("v")).filter(
        F.length("v") > 0
    )
    ours = explode_nonempty(
        arrays_df, ["id"], "arr", "v", keep=F.length("v") > 0
    )
    assert _rows(ours) == _rows(plain)


def test_explode_nonempty_no_inferred_filter_over_expression(spark):
    """The reason the helper exists: with a DERIVED array expression,
    plain explode's inferred size>0 filter is pushdown-substituted and
    re-evaluates the expression; the helper's plan must contain no
    Filter block referencing the expression (split/regexp here)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.dedup import (
        normalized_tokens,
    )

    docs = spark.createDataFrame([("x y z",), ("",)], "text string")
    df = explode_nonempty(docs, [], normalized_tokens(F.col("text")), "tok")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for block in plan.split("\n\n"):
        head = block.strip().split("\n")[0]
        if "Filter" in head:
            assert "split" not in block and "regexp" not in block, block


def test_md5_parts_memo_shared_fast_not(spark, sf_dir):
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import (
        dedup_queries as DQ,
    )

    a = DQ._minhash_parts(spark, sf_dir, fast=False)
    b = DQ._minhash_parts(spark, sf_dir, fast=False)
    assert a[0] is b[0] and a[1] is b[1], "md5 family must share per session"
    c = DQ._minhash_parts(spark, sf_dir, fast=True)
    d = DQ._minhash_parts(spark, sf_dir, fast=True)
    assert c[0] is not d[0], "fast family must rebuild per call (bench row)"


def test_md5_parts_memo_values_equal_fresh_build(spark, sf_dir):
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import (
        dedup_queries as DQ,
    )

    memo_pairs, memo_live = DQ._minhash_parts(spark, sf_dir, fast=False)
    fresh_pairs, fresh_live = DQ._minhash_parts_build(
        spark, sf_dir, fast=False
    )
    assert (
        memo_pairs.exceptAll(fresh_pairs).count()
        + fresh_pairs.exceptAll(memo_pairs).count()
        == 0
    )
    assert (
        memo_live.exceptAll(fresh_live).count()
        + fresh_live.exceptAll(memo_live).count()
        == 0
    )


def test_md5_parts_memo_misses_after_data_change(spark, tmp_path):
    """The memo key carries a token of the documents file, so a table
    rewritten under the same directory is rebuilt, not served stale,
    and the directory's older entry is evicted."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import (
        dedup_queries as DQ,
    )

    path = str(tmp_path)
    shutil.copy(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    a = DQ._minhash_parts(spark, path, fast=False)
    assert DQ._minhash_parts(spark, path, fast=False)[0] is a[0]

    docs = pq.read_table(tmp_path / "documents.parquet")
    pq.write_table(docs.slice(0, docs.num_rows // 2), tmp_path / "documents.parquet")
    b = DQ._minhash_parts(spark, path, fast=False)
    assert b[0] is not a[0], "a rewritten documents table must miss the memo"
    keys = [k for k in DQ._MD5_PARTS_MEMO[spark] if k[0] == os.path.abspath(path)]
    assert len(keys) == 1


def test_md5_parts_memo_builds_once_under_concurrency(spark, tmp_path, monkeypatch):
    """Concurrent first callers share ONE build: each independent build
    would stage, and later execute, its own copy of the pipeline."""
    import shutil
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans import (
        dedup_queries as DQ,
    )

    shutil.copy(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    real_build = DQ._minhash_parts_build
    builds, second_build = [], threading.Event()

    def slow_build(*args):
        builds.append(args)
        if len(builds) == 1:
            # hold the first build open: a second caller that misses the
            # memo starts its own build inside this window
            second_build.wait(timeout=2)
        else:
            second_build.set()
        return real_build(*args)

    monkeypatch.setattr(DQ, "_minhash_parts_build", slow_build)
    path = str(tmp_path)
    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(DQ._minhash_parts, spark, path, False)
        while not builds:
            time.sleep(0.01)
        second = pool.submit(DQ._minhash_parts, spark, path, False)
        a, b = first.result(timeout=120), second.result(timeout=120)
    assert len(builds) == 1
    assert a[0] is b[0] and a[1] is b[1]


def test_kernel_spread_conditioned(spark, sf_dir):
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import (
        kernel_spread,
        scan_splits,
    )

    par = spark.sparkContext.defaultParallelism
    splits = scan_splits(spark, sf_dir, "documents")
    n = kernel_spread(spark, sf_dir, "documents")
    if splits * 4 <= par:
        assert n == par, "split-starved input must spread to parallelism"
    else:
        assert n is None
    # a many-split input must NOT spread: simulate by shrinking the
    # split size until the fixture file yields > parallelism splits
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert scan_splits(spark, sf_dir, "documents") > par
        assert kernel_spread(spark, sf_dir, "documents") is None
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_scan_splits_sums_directory_part_files(spark, tmp_path):
    """A directory-layout table is sized by its part files, not by the
    directory entry (which read as one split whatever the data)."""
    import math
    import os

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import (
        scan_splits,
    )

    out = str(tmp_path / "documents.parquet")
    spark.range(0, 20000).repartition(4).write.parquet(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 4
    total = sum(os.path.getsize(os.path.join(out, f)) for f in parts)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        assert scan_splits(spark, str(tmp_path), "documents") == math.ceil(
            total / 4096
        ) > 4
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_simhash_staged_subtree_filter_free(spark, sf_dir):
    """ADVICE r15 #1 pin: the staged simhash subtree (everything below
    the checkpoint cut) must not evaluate the shingle chain inside a
    Filter — the r15 placement (filter under the repartition barrier)
    was pushdown-substituted to the scan."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import (
        dedup as D,
    )
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.dedup_queries import (
        _corpus,
    )

    corpus = _corpus(spark, sf_dir)
    reps, _mem = D.exact_text_dedup(corpus)
    sh = reps.select("doc_id", D.shingles(F.col("text")).alias("sh"))
    staged_subtree = sh.select(
        "doc_id",
        D.feature_hashes(F.col("sh"), 0).alias("h0"),
        D.feature_hashes(F.col("sh"), 1).alias("h1"),
    ).repartition("doc_id").select(
        "doc_id",
        D.simhash64_blocks(F.col("h0"), F.col("h1")).alias("blocks"),
        F.size("h0").alias("_nsh"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        staged_subtree.explain("formatted")
    plan = buf.getvalue()
    for block in plan.split("\n\n"):
        head = block.strip().split("\n")[0]
        if "Filter" in head:
            assert "zip_with" not in block, (
                "shingle chain evaluated inside a Filter:\n" + block
            )


def test_ivf_centroid_cache_token_invalidates(spark, tmp_path):
    """A centroid rewrite that keeps dir name, generation AND mtime
    must still invalidate another instance's cache — the token in the
    meta changes per build (ADVICE r15 #3)."""
    import os

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.ivf_store import (
        IvfLayoutStore,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cents_a = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "store")
    store_a = IvfLayoutStore(spark, path)
    store_a.build(emb, cents_a)
    meta_a = store_a._read_meta()
    token_a = meta_a["centroids_token"]
    rows_a = store_a._centroid_rows(meta_a)
    assert [r[0] for r in rows_a] == [0, 1]

    # second instance (cross-process stand-in) warms its own cache
    store_b = IvfLayoutStore(spark, path)
    assert store_b._centroid_rows(store_b._read_meta()) == rows_a

    # rewrite centroids via a fresh build; pin the dir mtime back to
    # the old value to simulate the same-filesystem-tick window
    cdir = os.path.join(path, "centroids")
    old_times = (os.path.getmtime(cdir), os.path.getmtime(cdir))
    cents_b = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    store_a.build(emb, cents_b)
    os.utime(cdir, old_times)
    meta_b = store_b._read_meta()
    assert meta_b["centroids_token"] != token_a
    rows_b = store_b._centroid_rows(meta_b)
    assert [list(r[1]) for r in rows_b] == [[0.5, 0.5], [1.0, 1.0]], (
        "stale centroid matrix served after an in-tick rewrite"
    )
