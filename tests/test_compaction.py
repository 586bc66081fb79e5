"""Compaction + clustered-write: file-count hygiene and data-skipping
stats, the two write-side levers that keep 100 TB scans fast."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dynamics_365_to_bigquery_spark_etl_pipeline_spark import sinks
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_compact_merges_microbatch_files_and_keeps_time_travel(spark, tmp_path):
    """Publish 30 tiny files (a micro-batch accretion), compact, and
    check: far fewer files, identical data, old version still readable."""
    out = str(tmp_path / "t")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    vdir = sinks.next_version_dir(out)
    ev.repartition(30).write.parquet(vdir)
    sinks.publish_version(out, vdir)
    before = sum(
        f.endswith(".parquet") for f in os.listdir(sinks.current_version_path(out))
    )
    assert before == 30

    n_after = sinks.compact(spark, out)
    assert n_after < before
    got = {
        tuple(r)
        for r in spark.read.parquet(sinks.current_version_path(out)).collect()
    }
    want = {tuple(r) for r in ev.collect()}
    assert got == want
    # pre-compaction version is retained time travel
    prev = {tuple(r) for r in spark.read.parquet(sinks.version_path(out, -2)).collect()}
    assert prev == want


def test_write_clustered_files_cover_disjoint_ranges(spark, tmp_path):
    """Range-partitioned sorted write: per-file [min, max] spans of the
    cluster key must be (near-)disjoint, so a point predicate's value
    falls inside at most ~1 file's span — the stats-based skipping a
    random-partitioned write cannot give."""
    out = str(tmp_path / "clustered")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    sinks.write_clustered(ev, out, ["user_id"], n_files=8)

    spans = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "user_id"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) > 3
    spans.sort()
    # consecutive files overlap at most at one boundary value
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2 + 1, (spans,)

    # every user_id lands in at most 2 files' spans (boundary dup)
    users = [r.user_id for r in ev.select("user_id").distinct().collect()]
    for u in users:
        assert sum(lo <= u <= hi for lo, hi in spans) <= 2

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == {tuple(r) for r in ev.collect()}


def test_compact_preserves_sink_meta(spark, tmp_path):
    """Compaction is a pure rewrite: the version's commit metadata (e.g.
    the rollup's folded-file list, a replay guard) must ride along."""
    out = str(tmp_path / "t")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    vdir = sinks.next_version_dir(out)
    ev.repartition(8).write.parquet(vdir)
    sinks.write_meta(vdir, {"files": ["a.csv", "b.csv"]})
    sinks.publish_version(out, vdir)

    sinks.compact(spark, out)
    meta = sinks.read_meta(out)
    assert meta is not None and set(meta["files"]) == {"a.csv", "b.csv"}
