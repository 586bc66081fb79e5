"""End-to-end EntityPipeline tests over a temp CSV landing zone:
full-load, incremental merge, watermark isolation on failure
(the reference bug fixed — SURVEY.md §2.6), and dup-column dropping
through the real CSV path.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from dynamics_365_to_bigquery_spark_etl_pipeline_spark import sinks
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.pipeline import EntityPipeline

LIVE = "{11111111-1111-1111-1111-111111111111}"
ZERO = "{00000000-0000-0000-0000-000000000000}"

HEADER = "SystemId,SystemCreatedAt-2000000001,SystemModifiedAt-2000000002,SystemCreatedBy,SystemModifiedBy,Amount,$Company\n"


def _write_csv(path: str, rows: list[str], mtime: float) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(HEADER)
        f.writelines(r + "\n" for r in rows)
    os.utime(path, (mtime, mtime))


def _live_row(key, ts, amount):
    return f"{key},{ts},{ts},{LIVE},{LIVE},{amount},acme"


def _delete_row(key):
    return f"{key},,,{ZERO},{ZERO},,acme"


@pytest.fixture()
def zone(tmp_path):
    landing = tmp_path / "landing"
    sink = tmp_path / "sink"
    state = tmp_path / "state"
    landing.mkdir()
    return landing, sink, state


def _pipeline(spark, zone):
    landing, sink, state = zone
    return EntityPipeline(
        spark, str(landing), str(sink), str(state), tie_breakers=("amount",)
    )


def test_full_load_then_incremental(spark, zone):
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [
            _live_row("a", "2024-01-01 10:00:00", 5),
            _live_row("b", "2024-01-01 11:00:00", 7),
        ],
        t0,
    )
    pipe = _pipeline(spark, zone)
    res = pipe.run()
    assert res == [{"entity": "Sales Invoice", "status": "ok", "files": 1}]

    snap = spark.read.parquet(str(sink / "salesinvoice"))
    assert set(snap.columns) >= {"systemid", "systemmodifiedat", "amount", "_company", "extracted_at"}
    assert {(r.systemid, r.amount) for r in snap.collect()} == {("a", 5), ("b", 7)}

    # idempotent re-run: no new files
    assert pipe.run() == [{"entity": "Sales Invoice", "status": "no_new_files", "files": 0}]

    # incremental: update a, delete b, insert c
    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [
            _live_row("a", "2024-01-02 09:00:00", 9),
            _delete_row("b"),
            _live_row("c", "2024-01-02 10:00:00", 1),
        ],
        t0 + 50,
    )
    assert pipe.run() == [{"entity": "Sales Invoice", "status": "ok", "files": 1}]
    snap = spark.read.parquet(str(sink / "salesinvoice"))
    assert {(r.systemid, r.amount) for r in snap.collect()} == {("a", 9), ("c", 1)}


def test_failed_entity_watermark_not_advanced(spark, zone, monkeypatch):
    """The reference advances watermarks for FAILED entities
    (incremental_etl_v1.py:193-202) — files are then skipped forever.
    Here the failed entity's watermark must stay put so a retry
    reprocesses its files."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(str(landing / "Bad" / "b1.csv"), [_live_row("x", "2024-01-01 10:00:00", 1)], t0)
    _write_csv(str(landing / "Good" / "b1.csv"), [_live_row("y", "2024-01-01 10:00:00", 2)], t0)

    pipe = _pipeline(spark, zone)
    real = pipe.run_entity

    def flaky(entity):
        if entity == "Bad" and not (sink / "bad").exists():
            raise RuntimeError("transient sink failure")
        return real(entity)

    monkeypatch.setattr(pipe, "run_entity", flaky)
    res = pipe.run()
    assert {r["entity"]: r["status"] for r in res} == {"Bad": "error", "Good": "ok"}
    assert pipe.store.get("Bad") is None  # watermark NOT advanced
    assert pipe.store.get("Good") is not None

    # retry succeeds and reprocesses the failed entity's file
    monkeypatch.setattr(pipe, "run_entity", real)
    res2 = pipe.run()
    assert {r["entity"]: r["status"] for r in res2} == {
        "Bad": "ok",
        "Good": "no_new_files",
    }
    snap = spark.read.parquet(str(sink / "bad"))
    assert [(r.systemid, r.amount) for r in snap.collect()] == [("x", 1)]


def test_cli_module_entry(spark, zone, capsys):
    """E1/E2 parity: the module CLI (python -m ... <landing> <sink>
    <state> [entities...]) wires argv through to EntityPipeline.run —
    invoked in-process so it reuses the test session via getOrCreate."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.__main__ import main

    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5)],
        t0,
    )
    _write_csv(str(landing / "Other" / "b1.csv"), [_live_row("z", "2024-01-01 10:00:00", 3)], t0)

    # argv entity selection (S9): only the named entity runs
    rc = main([str(landing), str(sink), str(state), "Sales Invoice", "--tie-breakers", "amount"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert [json.loads(l) for l in lines] == [
        {"entity": "Sales Invoice", "status": "ok", "files": 1}
    ]
    snap = spark.read.parquet(str(sink / "salesinvoice"))
    assert {(r.systemid, r.amount) for r in snap.collect()} == {("a", 5)}
    assert not (sink / "other").exists()

    # no selection: every landing folder processed
    rc = main([str(landing), str(sink), str(state), "--tie-breakers", "amount"])
    assert rc == 0
    out2 = {
        r["entity"]: r["status"]
        for r in map(json.loads, capsys.readouterr().out.strip().splitlines())
    }
    assert out2 == {"Other": "ok", "Sales Invoice": "no_new_files"}


def test_cli_rollup_and_compaction_flags(spark, zone, capsys):
    """--rollup KEYS:VALUE[:AGGS] wires the materialized-view config
    through argv; --compact-target-mb bin-packs each processed sink
    after the run and reports the file count (and is rejected for
    bucketed sinks, whose maintenance is per touched bucket)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.__main__ import main

    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5),
         _live_row("b", "2024-01-01 11:00:00", 7)],
        t0,
    )
    rc = main([
        str(landing), str(sink), str(state),
        "--tie-breakers", "amount",
        "--rollup", "_company:amount",
        "--compact-target-mb", "64",
    ])
    assert rc == 0
    [res] = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
             if l.startswith("{")]
    assert res["status"] == "ok" and res["compacted_files"] >= 1

    # rollup exists and matches a fresh GROUP BY
    rollup = spark.read.parquet(str(sink / "salesinvoice_rollup"))
    [row] = rollup.collect()
    assert (row._company, float(row.sum_value), row.n_rows) == ("acme", 12.0, 2)

    # conflicting maintenance flags fail fast
    rc = main([
        str(landing), str(sink), str(state),
        "--bucket-partitions", "4", "--compact-target-mb", "64",
    ])
    assert rc == 1


def test_cli_cluster_by_flag(spark, zone, capsys):
    """--cluster-by rewrites each processed sink clustered (published as
    a new version) and reports the file count; combining it with
    --compact-target-mb is rejected (it already bin-packs)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.__main__ import main

    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5),
         _live_row("b", "2024-01-01 11:00:00", 7)],
        t0,
    )
    rc = main([
        str(landing), str(sink), str(state),
        "--tie-breakers", "amount",
        "--cluster-by", "amount",
    ])
    assert rc == 0
    [res] = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
             if l.startswith("{")]
    assert res["status"] == "ok" and res["reclustered_files"] >= 1
    snap = spark.read.parquet(str(sink / "salesinvoice"))
    assert {(r.systemid, r.amount) for r in snap.collect()} == {("a", 5), ("b", 7)}

    rc = main([
        str(landing), str(sink), str(state),
        "--cluster-by", "amount", "--compact-target-mb", "64",
    ])
    assert rc == 1


def test_sink_write_is_single_physical_write(spark, zone):
    """The versioned-pointer sink writes each run's data exactly once:
    after two runs the sink keeps <= 2 version dirs and the current
    pointer resolves to the newest, with no staging leftovers."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"), [_live_row("a", "2024-01-01 10:00:00", 1)], t0
    )
    pipe = _pipeline(spark, zone)
    pipe.run()
    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("a", "2024-01-02 10:00:00", 2)], t0 + 50
    )
    pipe.run()

    out = sink / "items"
    assert out.is_symlink()
    versions = sorted(os.listdir(str(sink / "items__versions")))
    assert versions == ["v_000001", "v_000002"]
    assert os.path.realpath(str(out)) == os.path.realpath(
        str(sink / "items__versions" / "v_000002")
    )
    assert not os.path.exists(str(sink / "items__staging"))
    assert {(r.systemid, r.amount) for r in spark.read.parquet(str(out)).collect()} == {
        ("a", 2)
    }


def test_time_travel_and_inflight_reader_survives_swap(spark, zone):
    """read_snapshot(entity, version=-2) returns the PREVIOUS snapshot,
    and a reader that resolved the pointer before a swap still sees a
    complete snapshot afterwards (the previous version is retained)."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"), [_live_row("a", "2024-01-01 10:00:00", 1)], t0
    )
    pipe = _pipeline(spark, zone)
    pipe.run()

    # in-flight reader: resolve the pointer to the physical v1 path
    out = str(sink / "items")
    v1_real = os.path.realpath(out)

    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("a", "2024-01-02 10:00:00", 2)], t0 + 50
    )
    pipe.run()  # publishes v2, pointer swaps

    # the old resolved path is still a complete, readable snapshot
    old = spark.read.parquet(v1_real)
    assert [(r.systemid, r.amount) for r in old.collect()] == [("a", 1)]

    # time travel API: -1 = current, -2 = previous, positive = literal
    assert {r.amount for r in pipe.read_snapshot("Items", version=-1).collect()} == {2}
    assert {r.amount for r in pipe.read_snapshot("Items", version=-2).collect()} == {1}
    assert {r.amount for r in pipe.read_snapshot("Items", version=2).collect()} == {2}
    with pytest.raises(FileNotFoundError):
        pipe.read_snapshot("Items", version=7)
    # version=0 is not "the oldest retained" — versions are 1-based
    with pytest.raises(FileNotFoundError):
        pipe.read_snapshot("Items", version=0)
    # a too-negative index is FileNotFoundError like any other miss,
    # not a bare IndexError (2 versions retained here)
    with pytest.raises(FileNotFoundError):
        pipe.read_snapshot("Items", version=-3)


def test_gc_of_held_time_travel_version_fails_loudly(spark, zone):
    """Retention edge: the sink keeps current + previous, so a reader
    holding the version=-2 snapshot across a SUBSEQUENT publish is
    reading a GC'd directory. That must fail loudly on access — never
    silently return partial/empty data — and re-resolving the version
    must raise FileNotFoundError."""
    landing, sink, state = zone
    t0 = time.time() - 100
    pipe = _pipeline(spark, zone)
    for i, amount in enumerate([1, 2]):
        _write_csv(
            str(landing / "Items" / f"b{i}.csv"),
            [_live_row("a", f"2024-01-0{i + 1} 10:00:00", amount)],
            t0 + 10 * i,
        )
        pipe.run()

    held = pipe.read_snapshot("Items", version=-2)  # v1, oldest retained
    assert {r.amount for r in held.collect()} == {1}

    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("a", "2024-01-03 10:00:00", 3)], t0 + 20
    )
    pipe.run()  # publishes v3 -> v1 is GC'd

    with pytest.raises(Exception) as exc:
        held.collect()
    msg = str(exc.value)
    assert "FileNotFound" in msg or "does not exist" in msg or "PATH_NOT_FOUND" in msg
    with pytest.raises(FileNotFoundError):
        pipe.read_snapshot("Items", version=-3)  # v1 no longer resolvable
    # current + previous still retained and readable
    assert {r.amount for r in pipe.read_snapshot("Items", version=-2).collect()} == {2}
    assert {r.amount for r in pipe.read_snapshot("Items", version=-1).collect()} == {3}


def test_legacy_plain_dir_sink_migrates_on_first_publish(spark, zone):
    """Upgrade-in-place: a sink written by the old double-write layout
    (a REAL parquet directory at the sink path) is migrated into the
    versions root on the next publish instead of failing ENOTDIR."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"), [_live_row("a", "2024-01-01 10:00:00", 1)], t0
    )
    pipe = _pipeline(spark, zone)
    pipe.run()

    # simulate the legacy layout: replace the pointer with a real dir
    out = str(sink / "items")
    import shutil

    v1_real = os.path.realpath(out)
    os.unlink(out)
    shutil.move(v1_real, out)
    shutil.rmtree(out + "__versions")
    assert os.path.isdir(out) and not os.path.islink(out)

    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("a", "2024-01-02 10:00:00", 2)], t0 + 50
    )
    assert pipe.run() == [{"entity": "Items", "status": "ok", "files": 1}]
    assert os.path.islink(out)
    assert {r.amount for r in spark.read.parquet(out).collect()} == {2}
    # the legacy dir became the first retained version (time travel works)
    assert {r.amount for r in pipe.read_snapshot("Items", version=-2).collect()} == {1}


def test_crash_before_pointer_swap_leaves_old_version_live(spark, zone, monkeypatch):
    """A crash AFTER the version dir write but BEFORE the pointer swap
    leaves the old version live and the watermark where it was; the
    retry GCs the orphan version and converges."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"), [_live_row("a", "2024-01-01 10:00:00", 5)], t0
    )
    pipe = _pipeline(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    out = str(sink / "items")
    v1 = os.path.realpath(out)
    wm = pipe.store.get("Items")

    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("b", "2024-01-02 09:00:00", 7)], t0 + 50
    )
    real_replace = os.replace

    def crash_swap(src, dst):
        if dst == out:
            raise OSError("simulated crash at the pointer swap")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_swap)
    assert pipe.run()[0]["status"] == "error"
    monkeypatch.setattr(os, "replace", real_replace)

    # the orphan v2 was fully written but never became visible
    orphan = os.path.join(out + "__versions", "v_000002")
    assert os.path.isdir(orphan)
    open(os.path.join(orphan, "orphan-marker"), "w").close()
    assert os.path.realpath(out) == v1
    assert {(r.systemid, r.amount) for r in pipe.read_snapshot("Items").collect()} == {
        ("a", 5)
    }
    assert pipe.store.get("Items") == wm

    # retry: the orphan is GC'd, b2 re-applies, the watermark advances
    assert pipe.run() == [{"entity": "Items", "status": "ok", "files": 1}]
    assert not os.path.exists(os.path.join(orphan, "orphan-marker"))
    assert {(r.systemid, r.amount) for r in pipe.read_snapshot("Items").collect()} == {
        ("a", 5),
        ("b", 7),
    }
    assert pipe.store.get("Items")["max_mtime"] == pytest.approx(t0 + 50)


def test_missing_snapshot_with_committed_watermark_is_entity_error(spark, zone):
    """A committed watermark with no published snapshot (e.g. a removed
    pointer) must fail the entity, not publish the delta alone as the
    whole table and advance the watermark past the lost rows."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 1), _live_row("b", "2024-01-01 11:00:00", 2)],
        t0,
    )
    pipe = _pipeline(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    out = str(sink / "items")
    os.unlink(out)
    wm = pipe.store.get("Items")

    _write_csv(
        str(landing / "Items" / "b2.csv"), [_live_row("c", "2024-01-02 10:00:00", 3)], t0 + 50
    )
    [res] = pipe.run()
    assert res["status"] == "error"
    assert out in res["error"] and "watermark" in res["error"]
    assert pipe.store.get("Items") == wm
    assert not os.path.lexists(out)
    assert sinks.list_versions(out) == ["v_000001"]


def _job_ids(spark, group: str, fn):
    """Run ``fn()`` under the Spark job group ``group``; returns its
    result and the ids of the jobs it launched (status tracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_pointer_sink_snapshot_read_and_incremental_run_job_counts(spark, zone):
    """The pointer sink records each version's schema, so reading the
    published snapshot launches no footer-inference job, and one
    incremental run launches at most the 2 CSV-inference jobs of its
    delta and the 2 jobs of the merge write (a footer-read snapshot
    costs a fifth)."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Items" / "b1.csv"),
        [_live_row(f"k{i}", "2024-01-01 10:00:00", i) for i in range(20)],
        t0,
    )
    pipe = _pipeline(spark, zone)
    assert pipe.run()[0]["status"] == "ok"

    snap, jobs = _job_ids(spark, "pin-read-snapshot", lambda: pipe.read_snapshot("Items"))
    assert jobs == []
    assert snap.count() == 20

    _write_csv(
        str(landing / "Items" / "b2.csv"),
        [_live_row("k3", "2024-01-02 10:00:00", 33), _delete_row("k4")],
        t0 + 50,
    )
    res, jobs = _job_ids(spark, "pin-incremental", lambda: pipe.run_entity("Items"))
    assert res == {"entity": "Items", "status": "ok", "files": 1}
    assert len(jobs) <= 4, sorted(jobs)
    got = {r.systemid: r.amount for r in pipe.read_snapshot("Items").collect()}
    assert len(got) == 19 and got["k3"] == 33 and "k4" not in got


def test_duplicate_normalized_columns_dropped(spark, zone):
    """Columns colliding after suffix-strip normalization are ALL
    dropped (helper_functions.py:16-23), through the real CSV read."""
    landing, sink, state = zone
    path = str(landing / "Items" / "b1.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(
            "SystemId,SystemCreatedAt,SystemModifiedAt,SystemCreatedBy,SystemModifiedBy,No-1,no-2,Qty\n"
        )
        f.write(f"a,2024-01-01 10:00:00,2024-01-01 10:00:00,{LIVE},{LIVE},1,2,30\n")
    os.utime(path, None)
    pipe = _pipeline(spark, zone)
    pipe.tie_breakers = ()
    assert pipe.run() == [{"entity": "Items", "status": "ok", "files": 1}]
    snap = spark.read.parquet(str(sink / "items"))
    assert "no" not in snap.columns
    assert {r.qty for r in snap.collect()} == {30}


def test_cli_compact_buckets_flag(spark, zone, capsys):
    """--compact-buckets MIN_FILES runs the per-bucket bin-pack after a
    bucketed run and reports the rewritten-bucket count; using it
    without --bucket-partitions is rejected (pointer sinks bin-pack
    with --compact-target-mb)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.__main__ import main

    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row(f"k{i}", "2024-01-01 10:00:00", i) for i in range(20)],
        t0,
    )
    rc = main([
        str(landing), str(sink), str(state),
        "--tie-breakers", "amount",
        "--bucket-partitions", "2",
        "--compact-buckets", "1",
    ])
    assert rc == 0
    [res] = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
             if l.startswith("{")]
    assert res["status"] == "ok" and res["compacted_buckets"] == 2
    table = sink / "salesinvoice"
    for d in table.iterdir():
        if d.name.startswith("__bucket="):
            assert sum(f.suffix == ".parquet" for f in d.iterdir()) == 1
    snap = spark.read.parquet(str(table))
    assert {(r.systemid, r.amount) for r in snap.collect()} == {
        (f"k{i}", float(i)) for i in range(20)
    }

    rc = main([str(landing), str(sink), str(state), "--compact-buckets", "2"])
    assert rc == 1

