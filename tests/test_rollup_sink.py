"""Continuous rollup maintenance (materialized view over the CDC sink):
retraction math across updates/deletes, O(delta) per run, replay-safe
across the rollup-published/watermark-uncommitted crash window."""

from __future__ import annotations

import os
import time

import pytest

from dynamics_365_to_bigquery_spark_etl_pipeline_spark import sinks
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.pipeline import EntityPipeline

from .test_pipeline import _delete_row, _live_row, _write_csv, zone  # noqa: F401

ROLLUP = {"keys": ["_company"], "value": "amount"}


def _pipe(spark, zone):  # noqa: F811
    landing, sink, state = zone
    return EntityPipeline(
        spark, str(landing), str(sink), str(state),
        tie_breakers=("amount",), rollup=ROLLUP,
    )


def _rollup_equals_snapshot(spark, pipe, entity="Sales Invoice"):
    got = {
        (r._company, r.sum_value, r.n_rows, r.avg_value)
        for r in pipe.read_rollup(entity).collect()
    }
    snap = pipe.read_snapshot(entity)
    from pyspark.sql import functions as F

    want = {
        tuple(r)
        for r in snap.groupBy("_company")
        .agg(
            F.sum(F.col("amount").cast("decimal(25,2)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "_company", "s", "n",
            (F.col("s") / F.col("n")).alias("a"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    return got


def test_rollup_tracks_updates_and_deletes(spark, zone):  # noqa: F811
    """Three batches — inserts, then an update+delete+insert, then a
    company-moving update — the rollup must equal a fresh GROUP BY of
    the snapshot after every run (retractions exercised throughout)."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [
            _live_row("a", "2024-01-01 10:00:00", 5),
            _live_row("b", "2024-01-01 11:00:00", 7),
            _live_row("c", "2024-01-01 12:00:00", 11),
        ],
        t0,
    )
    pipe = _pipe(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    _rollup_equals_snapshot(spark, pipe)

    # update a (5 -> 9), delete b, insert d
    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [
            _live_row("a", "2024-01-02 09:00:00", 9),
            _delete_row("b"),
            _live_row("d", "2024-01-02 10:00:00", 2),
        ],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"
    _rollup_equals_snapshot(spark, pipe)

    # update c across group boundary: acme -> globex
    _write_csv(
        str(landing / "Sales Invoice" / "b3.csv"),
        ["c,2024-01-03 08:00:00,2024-01-03 08:00:00,"
         "{11111111-1111-1111-1111-111111111111},"
         "{11111111-1111-1111-1111-111111111111},11,globex"],
        t0 + 80,
    )
    assert pipe.run()[0]["status"] == "ok"
    got = _rollup_equals_snapshot(spark, pipe)
    assert any(c == "globex" for c, *_ in got)


def test_rollup_replay_after_watermark_crash_is_exact(spark, zone):  # noqa: F811
    """Crash window: rollup + snapshot published, watermark commit lost.
    The retry re-merges the snapshot (idempotent) and must SKIP the
    rollup fold (batch recorded in the version metadata) — without the
    skip the retraction math double-applies the delta."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5),
         _live_row("b", "2024-01-01 11:00:00", 7)],
        t0,
    )
    pipe = _pipe(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [_live_row("a", "2024-01-02 09:00:00", 9)],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"
    before = _rollup_equals_snapshot(spark, pipe)

    # simulate the lost watermark commit: roll state back to batch 1
    st = pipe.store.get("Sales Invoice")
    assert st is not None
    pipe.store.commit("Sales Invoice", st["latest_file"], t0 + 1)

    assert pipe.run()[0]["status"] == "ok"  # replays b2
    after = _rollup_equals_snapshot(spark, pipe)
    assert after == before


def test_rollup_crash_plus_new_files_falls_back_to_recompute(spark, zone):  # noqa: F811
    """Crash window + NEW files landed before the retry: the pending set
    partially overlaps the recorded batch, so delta math would double
    count — the pipeline must rebuild the rollup from the published
    snapshot instead (and still match)."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5)],
        t0,
    )
    pipe = _pipe(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [_live_row("b", "2024-01-02 09:00:00", 7)],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"

    # lost watermark commit AND a new file lands before the retry
    st = pipe.store.get("Sales Invoice")
    pipe.store.commit("Sales Invoice", st["latest_file"], t0 + 1)
    _write_csv(
        str(landing / "Sales Invoice" / "b3.csv"),
        [_live_row("c", "2024-01-03 09:00:00", 2)],
        t0 + 80,
    )
    assert pipe.run()[0]["status"] == "ok"
    _rollup_equals_snapshot(spark, pipe)


def test_crashed_version_write_never_becomes_time_travel(spark, zone):  # noqa: F811
    """A version dir left by a crashed mid-write (never published) must
    be GC'd on the next reserve — not retained where version=-2 time
    travel would silently read partial data."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5)],
        t0,
    )
    pipe = _pipe(spark, zone)
    assert pipe.run()[0]["status"] == "ok"
    out = os.path.join(str(sink), "salesinvoice")

    # simulate a crashed write: an orphan version dir beyond the pointer
    orphan = os.path.join(out + sinks.VERSIONS_SUFFIX, "v_000999")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"partial garbage")

    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [_live_row("b", "2024-01-02 09:00:00", 7)],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"
    retained = sinks.list_versions(out)
    assert "v_000999" not in retained
    # -2 time travel resolves to the real previous version
    prev = spark.read.parquet(sinks.version_path(out, -2))
    assert {r.systemid for r in prev.collect()} == {"a"}


def test_metaless_rollup_version_recomputes_not_doublefolds(spark, zone):  # noqa: F811
    """A published rollup version without commit metadata (e.g. produced
    by an external rewrite) gives no replay proof — the next run must
    take the full-recompute path and still equal a fresh GROUP BY."""
    landing, sink, state = zone
    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5),
         _live_row("b", "2024-01-01 11:00:00", 7)],
        t0,
    )
    pipe = _pipe(spark, zone)
    assert pipe.run()[0]["status"] == "ok"

    # strip the commit meta from the current rollup version
    cur = sinks.current_version_path(pipe._rollup_path("Sales Invoice"))
    assert cur is not None
    os.remove(os.path.join(cur, sinks.META_NAME))

    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [_live_row("a", "2024-01-02 09:00:00", 9)],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"
    _rollup_equals_snapshot(spark, pipe)


def test_minmax_rollup_recomputes_under_deletes_never_wrong(spark, zone):  # noqa: F811
    """MIN/MAX are outside the retractable envelope: configuring them
    must (a) reject unknown agg names at construction, (b) make
    negate_group_stats refuse min/max state, and (c) switch incremental
    runs to the recompute path so a deleted extremum is never published
    stale — the rollup must equal a fresh GROUP BY incl. min/max after
    a delete of the current maximum."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import incr

    landing, sink, state = zone
    with _pytest.raises(ValueError, match="unsupported rollup aggs"):
        EntityPipeline(
            spark, str(landing), str(sink), str(state),
            rollup={"keys": ["_company"], "value": "amount",
                    "aggs": ("sum", "median")},
        )

    pipe = EntityPipeline(
        spark, str(landing), str(sink), str(state),
        tie_breakers=("amount",),
        rollup={"keys": ["_company"], "value": "amount",
                "aggs": ("sum", "count", "avg", "min", "max")},
    )

    t0 = time.time() - 100
    _write_csv(
        str(landing / "Sales Invoice" / "b1.csv"),
        [_live_row("a", "2024-01-01 10:00:00", 5),
         _live_row("b", "2024-01-01 11:00:00", 7),
         _live_row("c", "2024-01-01 12:00:00", 11)],
        t0,
    )
    assert pipe.run()[0]["status"] == "ok"

    # negate refuses min/max state outright
    st = incr.partial_group_stats(
        pipe.read_snapshot("Sales Invoice"), ["_company"], "amount",
        aggs=("sum", "count", "min", "max"),
    )
    with _pytest.raises(ValueError, match="not\\s+retractable"):
        incr.negate_group_stats(st)

    # delete the current max (c=11): the recompute path must yield the
    # true new extrema, equal to a fresh GROUP BY of the snapshot
    _write_csv(
        str(landing / "Sales Invoice" / "b2.csv"),
        [_delete_row("c"), _live_row("d", "2024-01-02 10:00:00", 2)],
        t0 + 50,
    )
    assert pipe.run()[0]["status"] == "ok"

    got = {
        (r._company, r.min_value, r.max_value, r.sum_value, r.n_rows)
        for r in pipe.read_rollup("Sales Invoice").collect()
    }
    snap = pipe.read_snapshot("Sales Invoice")
    want = {
        tuple(r)
        for r in snap.groupBy("_company").agg(
            F.min("amount").alias("mn"),
            F.max("amount").alias("mx"),
            F.sum(F.col("amount").cast("decimal(25,2)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        ).collect()
    }
    assert got == want and len(got) > 0
    assert not any(mx == "11" or mx == 11 or mx == 11.0 for _, _, mx, _, _ in got)
