"""Z-order clustered writes: multi-dimensional file skipping.

``write_clustered`` (single-key range sort) makes footer stats disjoint
on ONE column; these tests show ``write_zordered`` bounds per-file
min/max spans on EVERY clustered column at once — the property that
lets a 100 TB scan filtered on a trailing dimension skip most files,
which a lexicographic layout cannot do.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dynamics_365_to_bigquery_spark_etl_pipeline_spark import sinks
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import layout as L

N = 40_000
K = 1024  # x, y uniform in [0, K)
N_FILES = 64


def _xy(spark):
    """Two independent uniform keys: x cycles; y comes from a hash of
    id so it is decorrelated from x (an affine map mod K would be
    functionally dependent on x: K divides K*multiplier)."""
    return spark.range(N).select(
        (F.col("id") % K).alias("x"),
        (F.abs(F.hash(F.col("id"))) % K).alias("y"),
        F.col("id").alias("payload"),
    )


def _file_spans(path: str, col: str) -> list[tuple[int, int]]:
    """Per-FILE [min, max] of ``col`` from parquet footer stats — what a
    stats-based scan planner consults before opening any file."""
    spans = []
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        if md.num_rows == 0:
            continue
        idx = md.schema.to_arrow_schema().get_field_index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    return spans


def _files_hit(spans, lo, hi) -> int:
    return sum(not (s_hi < lo or s_lo > hi) for s_lo, s_hi in spans)


def test_zorder_prunes_on_both_dims(spark, tmp_path):
    """The headline property: a predicate on EITHER clustered column
    skips most files under Z-order, while the single-key layout reads
    every file for a trailing-column predicate."""
    df = _xy(spark)
    lin = str(tmp_path / "lin")
    zed = str(tmp_path / "zed")
    sinks.write_clustered(df, lin, ["x"], n_files=N_FILES)
    sinks.write_zordered(df, zed, ["x", "y"], n_files=N_FILES)

    lin_y = _file_spans(lin, "y")
    zed_y = _file_spans(zed, "y")
    zed_x = _file_spans(zed, "x")

    # y-slab (1/16 of the domain): the x-clustered layout has no y
    # locality — every file intersects; Z-order reads a small fraction
    y_lo, y_hi = 0, K // 16 - 1
    assert _files_hit(lin_y, y_lo, y_hi) >= 0.9 * len(lin_y)
    assert _files_hit(zed_y, y_lo, y_hi) <= len(zed_y) // 2

    # x-slab: Z-order still prunes on the leading dim too (coarser than
    # the dedicated x layout, but far from a full scan)
    x_lo, x_hi = 0, K // 16 - 1
    assert _files_hit(zed_x, x_lo, x_hi) <= len(zed_x) // 2

    # box on both dims: intersect BOTH span sets per file
    zx, zy = zed_x, zed_y
    box_hits = sum(
        not (xh < x_lo or xl > x_hi) and not (yh < y_lo or yl > y_hi)
        for (xl, xh), (yl, yh) in zip(zx, zy)
    )
    assert box_hits <= len(zx) // 4


def test_zorder_layout_preserves_data(spark, tmp_path):
    """Layout is a physical property only: read-back equals the input,
    and a filtered scan over the Z-ordered files returns exactly the
    rows the predicate selects."""
    df = _xy(spark)
    zed = str(tmp_path / "zed")
    sinks.write_zordered(df, zed, ["x", "y"], n_files=16)
    got = spark.read.parquet(zed)
    assert "__zcode" not in got.columns
    assert sorted(r.payload for r in got.collect()) == list(range(N))
    want = {r.payload for r in df.filter((F.col("x") < 8) & (F.col("y") < 64)).collect()}
    have = {r.payload for r in got.filter((F.col("x") < 8) & (F.col("y") < 64)).collect()}
    assert have == want


def test_recluster_publishes_stats_bounded_version(spark, tmp_path):
    """OPTIMIZE-style maintenance through the versioned sink: an
    unsorted (micro-batch-accreted) table is rewritten Z-ordered as a
    NEW version via the same atomic commit — data identical, footer
    stats now bounded on both keys, previous version still readable."""
    out = str(tmp_path / "t")
    df = _xy(spark)
    vdir = sinks.next_version_dir(out)
    df.repartition(8).write.parquet(vdir)  # stats span the full domain
    sinks.publish_version(out, vdir)

    n = sinks.recluster(spark, out, ["x", "y"], target_bytes=40_000)
    assert n >= 1
    cur = sinks.current_version_path(out)
    spans_y = _file_spans(cur, "y")
    if len(spans_y) > 4:
        assert _files_hit(spans_y, 0, K // 16 - 1) <= len(spans_y) // 2
    got = sorted(r.payload for r in spark.read.parquet(cur).collect())
    assert got == list(range(N))
    prev = spark.read.parquet(sinks.version_path(out, -2))
    assert prev.count() == N


def test_zorder_rejects_non_numeric_keys(spark):
    df = spark.range(10).select(F.col("id"), F.lit("s").alias("name"))
    with pytest.raises(ValueError, match="numeric"):
        L.zorder_code(df, ["id", "name"], bits=8)


def test_zorder_code_guards_and_hints(spark):
    """bits x dims must fit a signed long; constant columns rank to 0;
    caller-supplied stats hints skip the min/max aggregate scan."""
    df = spark.range(100).select(
        F.col("id").alias("a"), F.lit(7).alias("b"), (F.col("id") * 3).alias("c")
    )
    with pytest.raises(ValueError, match="exceeds"):
        L.interleave_bits([F.col("a")] * 5, bits=16)

    # constant column contributes rank 0 everywhere -> only a's bit
    # lanes can ever be set in the interleaved code
    out = df.select(
        L.zorder_code(df, ["a", "b"], bits=8).alias("z"),
    ).agg(F.max("z").alias("mx")).collect()[0]
    # with b constant, only even bit positions (a's lanes) can be set:
    # max over 8-bit a-rank interleaved into even lanes is 0b0101...01
    even_mask = sum(1 << (2 * i) for i in range(8))
    assert out.mx <= even_mask

    # hints path: no aggregate needed, same code as derived stats
    hinted = df.select(
        L.zorder_code(df, ["a", "c"], bits=8, stats={"a": (0, 99), "c": (0, 297)}).alias("z")
    ).collect()
    derived = df.select(L.zorder_code(df, ["a", "c"], bits=8).alias("z")).collect()
    assert [r.z for r in hinted] == [r.z for r in derived]
