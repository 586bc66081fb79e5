"""Versioned table sink: write-once + atomic pointer swap (SURVEY.md
§2 S5 re-expressed; replaces the reference's double-write overwrite,
``incremental_etl_v1.py:184-188``).

Layout for a sink published at ``out``:

    out               -> symlink (atomic pointer) to the current version
    out__versions/    -> v_000001, v_000002, ... (current + previous kept)

The commit is ONE pointer swap: a fresh symlink is renamed over ``out``
with ``os.replace``, which POSIX filesystems make atomic. Readers always
go through the pointer, so they see either the old or the new snapshot,
never a partial write; an in-flight reader that resolved the pointer
before a swap keeps a complete snapshot because the previous version is
retained (time travel / Iceberg-style commit).

Shared by the batch pipeline (``pipeline.EntityPipeline``) and the
streaming merge (``streaming.cdc_stream.stream_cdc_merge``), so both
paths have exactly ONE physical write per run/micro-batch.

The table schema is commit metadata of EVERY version, pointer and
bucketed alike: ``write_version`` records the written frame's schema as
``_schema.json`` inside the version dir before the pointer swap, and
``read_version`` reads a version through it. A schema-pinned read
launches no Spark job; a footer read launches one schema-inference job
per read, which the nightly merge used to pay once per entity. A
version written before versions carried the schema falls back to the
footer read.
"""

from __future__ import annotations

import json
import math
import os
import shutil

VERSIONS_SUFFIX = "__versions"
SWAP_SUFFIX = "__swap"
SCHEMA_NAME = "_schema.json"
META_NAME = "_sink_meta.json"


def _atomic_put(path: str, payload: dict) -> None:
    """Write ``payload`` as JSON at ``path`` through a temp file and one
    ``os.replace``: readers of ``path`` see the old bytes or the new
    bytes, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _versions_root(out: str) -> str:
    return out + VERSIONS_SUFFIX


def write_table_schema(data_dir: str, schema) -> None:
    """Record the canonical table schema inside ``data_dir`` (atomic
    single-object PUT; the underscore prefix hides it from Spark's
    parquet reader). Every published version carries one: a pointer
    sink's version dir (``write_version``) and a bucketed sink's data
    directory (``EntityPipeline._write_bucketed``).

    For a pointer version the schema saves the footer-inference job of
    every read (``read_version``). For a bucketed sink it is also what
    keeps drifted columns: a bucketed sink rewrites ONLY delta-touched
    buckets, so after schema drift the directory holds parquet files
    with DIFFERENT schemas. ``spark.read.parquet`` samples ONE footer
    (``mergeSchema`` defaults false) — whether the drifted column
    appears is a coin flip on which footer gets sampled, and a
    subsequent merge reading the truncated snapshot would erase the
    column from data that had it. Like Delta/Iceberg, the schema is
    therefore COMMIT METADATA, not something re-derived from footers:
    writers record the merged schema here and readers pass it to
    ``spark.read.schema(...)`` (files lacking a column yield NULLs for
    it, which is exactly the drift-union semantics)."""
    payload = schema.jsonValue() if hasattr(schema, "jsonValue") else schema
    _atomic_put(os.path.join(data_dir, SCHEMA_NAME), payload)


def read_table_schema(data_dir: str):
    """Canonical schema recorded in ``data_dir``, as a ``StructType``
    (None when absent — a version or bucketed sink written before the
    schema was recorded; its next merge records one)."""
    from pyspark.sql import types as T

    try:
        with open(os.path.join(data_dir, SCHEMA_NAME)) as f:
            return T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def write_version(df, vdir: str, write=None) -> None:
    """The writer rule of a pointer-sink version: write ``df`` into the
    reserved (unpublished) ``vdir``, then record ``df.schema`` inside it,
    so the schema is in place before ``publish_version`` makes the
    version visible. ``write(df, vdir)`` replaces the plain overwrite
    (the maintenance rewrites coalesce or cluster first)."""
    if write is None:
        df.write.mode("overwrite").parquet(vdir)
    else:
        write(df, vdir)
    write_table_schema(vdir, df.schema)


def read_version(spark, vdir: str):
    """The reader rule of a pointer-sink version: read ``vdir`` through
    its recorded schema, which launches no Spark job. A version without
    one (written before versions carried it) is read by footer
    inference."""
    schema = read_table_schema(vdir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(vdir)


def is_bucketed_dir(out: str) -> bool:
    """True when ``out`` is a bucketed-sink data directory (real dir
    holding ``__bucket=`` partitions, or only schema metadata while
    empty) rather than a pointer or a flat version dir. Maintenance ops
    that rewrite a whole current version (compact/recluster) and the
    legacy-layout migration must refuse these: a whole-dir rewrite would
    both read mixed post-drift schemas by footer sampling and destroy
    the bucket layout."""
    if not os.path.isdir(out) or os.path.islink(out):
        return False
    entries = os.listdir(out)
    if any(d.startswith("__bucket=") for d in entries):
        return True
    # An empty bucketed sink holds its schema and no partition dir. A
    # flat dir (a legacy sink, or a version copied to the sink path)
    # may hold a schema too, but always holds part files: Spark writes
    # one even for an empty frame.
    return SCHEMA_NAME in entries and not any(
        f.endswith(".parquet") for f in entries
    )


def list_versions(out: str) -> list[str]:
    """Retained version directory names, oldest first."""
    vroot = _versions_root(out)
    if not os.path.isdir(vroot):
        return []
    return sorted(d for d in os.listdir(vroot) if d.startswith("v_"))


def version_path(out: str, version: int = -1) -> str:
    """Path of a retained version. ``version`` indexes the retained list
    Python-style: -1 = current, -2 = previous; a positive n means the
    literal version number ``v_{n:06d}``."""
    versions = list_versions(out)
    if not versions:
        raise FileNotFoundError(f"no published versions under {_versions_root(out)}")
    if version == 0:
        raise FileNotFoundError(
            f"version 0 does not exist (versions start at 1; use -1 for "
            f"current, have {versions})"
        )
    if version > 0:
        name = f"v_{version:06d}"
        if name not in versions:
            raise FileNotFoundError(
                f"version {name} not retained (have {versions})"
            )
    else:
        if version < -len(versions):
            raise FileNotFoundError(
                f"version {version} out of range ({len(versions)} retained: "
                f"{versions})"
            )
        name = versions[version]
    return os.path.join(_versions_root(out), name)


def _migrate_legacy_dir(out: str) -> None:
    """Upgrade-in-place: a pre-versioned sink (a REAL directory at
    ``out``, from the old double-write layout) is moved into the
    versions root as the first version and the pointer is installed in
    its place, so existing lazy readers of ``out`` keep resolving and
    the subsequent swap never hits ENOTDIR."""
    if not os.path.isdir(out) or os.path.islink(out):
        return
    if is_bucketed_dir(out):
        raise ValueError(
            f"{out} is a bucketed sink directory; it cannot be migrated "
            "into the versioned-pointer layout (run its maintenance "
            "through EntityPipeline, not the pointer-sink ops)"
        )
    vroot = _versions_root(out)
    os.makedirs(vroot, exist_ok=True)
    existing = list_versions(out)
    n = int(existing[-1][2:]) + 1 if existing else 1
    legacy = os.path.join(vroot, f"v_{n:06d}")
    os.rename(out, legacy)
    _swap_pointer(out, legacy)


def _swap_pointer(out: str, vdir: str) -> None:
    """The commit: build the new symlink beside ``out``, then rename it
    over ``out`` in one atomic ``os.replace``."""
    tmp = out + SWAP_SUFFIX
    if os.path.lexists(tmp):
        os.unlink(tmp)
    os.symlink(os.path.abspath(vdir), tmp)
    os.replace(tmp, out)


def next_version_dir(out: str) -> str:
    """Reserve the next version directory path (not created). Migrates a
    legacy real-directory sink into the versions root first, and GCs
    orphaned version dirs NEWER than the published pointer — those can
    only be crashed mid-write leftovers (publish immediately follows
    the write), and without this sweep retention would later retain a
    partial directory as the ``version=-2`` time-travel target, turning
    a crash into silent partial reads."""
    _migrate_legacy_dir(out)
    vroot = _versions_root(out)
    os.makedirs(vroot, exist_ok=True)
    cur = current_version_path(out)
    # with no pointer yet, ANY existing version dir is a crashed first
    # write; with a pointer, anything newer than its target is
    cur_name = os.path.basename(cur) if cur is not None else ""
    for v in list_versions(out):
        if v > cur_name:
            shutil.rmtree(os.path.join(vroot, v), ignore_errors=True)
    existing = list_versions(out)
    n = int(existing[-1][2:]) + 1 if existing else 1
    return os.path.join(vroot, f"v_{n:06d}")


def publish_version(out: str, vdir: str, keep: int = 2) -> None:
    """Atomically point ``out`` at ``vdir``; GC all but the newest
    ``keep`` versions (current + previous by default, so in-flight
    readers of the old pointer and ``version=-2`` time travel work).

    Retention contract: a reader holding a resolved version path across
    MORE THAN ``keep - 1`` subsequent publishes is reading a GC'd
    directory and fails loudly on access (Spark's missing-file error;
    never silent partial data — tested in
    ``test_gc_of_held_time_travel_version_fails_loudly``). Long-lived
    readers need a larger ``keep``, mirroring snapshot-retention tuning
    in table formats."""
    _migrate_legacy_dir(out)
    _swap_pointer(out, vdir)
    for old in list_versions(out)[:-keep]:
        shutil.rmtree(os.path.join(_versions_root(out), old), ignore_errors=True)


def current_version_path(out: str) -> str | None:
    """Real path of the current version (for a bucketed sink, the data
    directory at ``out`` itself), or None if never published."""
    if not os.path.lexists(out):
        return None
    return os.path.realpath(out)


def _rewrite_current(spark, out: str, what: str, target_bytes: int, keep: int, write) -> int:
    """Maintenance rewrite shared by `compact` and `recluster`: size the
    CURRENT version into ``ceil(size / target_bytes)`` files, let
    ``write(df, vdir, n_files)`` produce the next version, carry the
    commit metadata along and publish. Returns the new file count."""
    if is_bucketed_dir(out):
        raise ValueError(
            f"{out} is a bucketed sink; whole-table {what} would "
            "destroy the bucket layout — use EntityPipeline.compact_buckets"
        )
    cur = current_version_path(out)
    if cur is None:
        raise FileNotFoundError(f"nothing published at {out}")
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(cur)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_bytes))
    vdir = next_version_dir(out)
    write_version(
        read_version(spark, cur), vdir, lambda df, v: write(df, v, n_files)
    )
    # A maintenance rewrite keeps the content: the prior version's commit
    # metadata still describes it, so it rides along. Dropping it would
    # strip replay guards (e.g. the rollup's folded-file list) from the
    # current version.
    meta_src = os.path.join(cur, META_NAME)
    if os.path.exists(meta_src):
        shutil.copyfile(meta_src, os.path.join(vdir, META_NAME))
    publish_version(out, vdir, keep=keep)
    return sum(f.endswith(".parquet") for f in os.listdir(vdir))


def compact(spark, out: str, target_bytes: int = 128 * 1024 * 1024, keep: int = 2) -> int:
    """Small-file compaction: rewrite the CURRENT version into
    ``ceil(size / target_bytes)`` files and publish the result as a new
    version through the same atomic pointer swap. Returns the new file
    count.

    Micro-batch streaming merges accrete a file per batch; thousands of
    small files tax the driver's file index and kill scan throughput at
    100 TB (per-file open cost dominates). Compaction is a pure rewrite
    — readers see old files or new files, never a mix, and time travel
    to the pre-compaction version still works (it is just another
    retained version).

    ``coalesce`` (not ``repartition``) does the merge: no shuffle, each
    output task concatenates input splits."""

    def write(df, vdir, n_files):
        df.coalesce(n_files).write.parquet(vdir)

    return _rewrite_current(spark, out, "compaction", target_bytes, keep, write)


def recluster(
    spark,
    out: str,
    cluster_cols: list[str],
    target_bytes: int = 128 * 1024 * 1024,
    keep: int = 2,
) -> int:
    """OPTIMIZE-style maintenance: rewrite the CURRENT version clustered
    on ``cluster_cols`` — one column → range sort (`write_clustered`),
    several → Z-order (`write_zordered`) — sized like `compact` and
    published as a new version through the same atomic commit, commit
    metadata riding along. Returns the new file count.

    Compaction fixes file COUNT; reclustering fixes file STATS: after
    enough micro-batch merges every file spans the whole key domain and
    min/max skipping stops working, so periodic re-sorting is the same
    kind of maintenance as bin-packing."""
    cluster = write_clustered if len(cluster_cols) == 1 else write_zordered

    def write(df, vdir, n_files):
        cluster(df, vdir, cluster_cols, n_files=n_files)

    return _rewrite_current(spark, out, "reclustering", target_bytes, keep, write)


def write_clustered(df, out: str, cluster_cols: list[str], n_files: int = 0) -> None:
    """Cluster-on-write: range-partition by ``cluster_cols`` then sort
    within partitions, so every parquet file covers a narrow, mostly
    disjoint key range and min/max row-group stats let point/range
    scans skip almost all files (Delta/Iceberg OPTIMIZE ZORDER's
    single-key special case, done at write time for free).

    The range partitioner samples the keys, so skew in the cluster
    column translates to more files for hot ranges, not hot tasks."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_cols]
    part = df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(out)


def write_zordered(
    df,
    out: str,
    cluster_cols: list[str],
    n_files: int = 0,
    bits: int | None = None,
    stats: dict | None = None,
) -> None:
    """Multi-dimensional cluster-on-write: sort by the Z-order (Morton)
    code of ``cluster_cols`` so each file covers a small hyper-rectangle
    of the key space — min/max footer stats then skip files for
    predicates on ANY clustered column, where ``write_clustered``'s
    lexicographic sort only skips on the leading one (Delta/Iceberg
    ``OPTIMIZE ZORDER BY``, done at write time).

    Same skew behavior as ``write_clustered``: the range partitioner
    samples the CODE, so hot key regions become more files, not hot
    tasks. The code column never reaches the files — it is dropped after
    the sort (projection preserves within-partition order)."""
    from pyspark.sql import functions as F

    from .operators import layout as L

    code = L.zorder_code(
        df, cluster_cols, bits=bits or L.DEFAULT_BITS, stats=stats
    )
    zdf = df.withColumn("__zcode", code)
    part = (
        zdf.repartitionByRange(n_files, F.col("__zcode"))
        if n_files
        else zdf.repartitionByRange(F.col("__zcode"))
    )
    part.sortWithinPartitions("__zcode").drop("__zcode").write.mode(
        "overwrite"
    ).parquet(out)


def write_meta(vdir: str, payload: dict) -> None:
    """Attach commit metadata to an (unpublished) version dir. The
    underscore prefix makes Spark's parquet reader ignore the file, so
    metadata rides inside the version it describes and is swapped /
    retained / GC'd atomically with it."""
    with open(os.path.join(vdir, META_NAME), "w") as f:
        json.dump(payload, f)


def read_meta(out: str) -> dict | None:
    """Commit metadata of the CURRENT version (None if unpublished or
    the version carries none)."""
    cur = current_version_path(out)
    if cur is None:
        return None
    try:
        with open(os.path.join(cur, META_NAME)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
