"""Durable staging backends (r9 verdict #1).

``lazy_stage``'s localCheckpoint blocks are executor-pinned and
non-fault-tolerant; the r9 verdict's top item asked for the documented
100 TB alternative: staged partitions on the shared filesystem, behind
the same API, chosen by a deployment setting. These tests pin the three
contracts:

1. ``durable_stage`` is construction-LAZY (zero jobs — registry
   enumeration must never execute pipelines) yet writes its partitions
   to the session checkpoint directory on first action;
2. every backend is result-EQUIVALENT to the unstaged plan, with
   multiple consumers reusing one materialization;
3. the ``stage`` dispatcher honors the env setting and fails loudly on
   unknown backends.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import stage as ST


def _jobs_started(spark) -> int:
    return spark._jsc.sc().dagScheduler().nextJobId()


def _subtree(spark):
    """A shuffle-bearing subtree whose accidental execution is visible
    as jobs: materialized inputs, then a groupBy."""
    base = (
        spark.range(0, 2000)
        .select(
            (F.col("id") % 37).alias("g"),
            (F.col("id") * 3 + 1).alias("v"),
        )
        .localCheckpoint()
    )
    return base.groupBy("g").agg(F.sum("v").alias("s"), F.count("*").alias("n"))


def _expected(spark):
    return {
        tuple(r)
        for r in _subtree(spark).orderBy("g").collect()
    }


def test_durable_stage_runs_zero_jobs_at_construction(spark):
    sub = _subtree(spark)
    before = _jobs_started(spark)
    staged = ST.durable_stage(sub)
    # composition over the staged frame is also job-free
    joined = staged.alias("a").join(staged.alias("b"), "g").filter(
        F.col("a.s") == F.col("b.s")
    )
    _ = joined.schema
    assert _jobs_started(spark) - before == 0, (
        "durable_stage construction must run zero jobs"
    )
    # first action materializes and is correct
    assert joined.count() == 37


def test_durable_stage_writes_checkpoint_files_and_reuses_them(spark):
    sub = _subtree(spark)
    staged = ST.durable_stage(sub)
    ckdir_opt = spark.sparkContext._jsc.sc().checkpointDir()
    assert not ckdir_opt.isEmpty(), "durable_stage must install a checkpoint dir"
    ckdir = ckdir_opt.get()
    if ckdir.startswith("file:"):
        ckdir = ckdir[len("file:") :]

    def rdd_files() -> set:
        found = set()
        for dp, _d, fs in os.walk(ckdir):
            for f in fs:
                if f.startswith("part-"):
                    found.add(os.path.join(dp, f))
        return found

    before_files = rdd_files()
    assert {tuple(r) for r in staged.collect()} == _expected(spark)
    after_files = rdd_files()
    new_files = after_files - before_files
    assert new_files, (
        "first action must write reliable-checkpoint partition files "
        "(the durable storage — on a cluster this dir is shared-FS)"
    )
    # a second consumer reads the files (no new checkpoint dirs).
    # Compare against THIS stage's files, not the whole dir: the
    # session runs cleanCheckpoints=true, so a driver GC can delete
    # EARLIER tests' checkpoint files between the walks — whole-set
    # equality flaked once in a full-suite run (r12). Our files are
    # still strongly referenced via the staged frame, so they must
    # survive; the second action must add none.
    assert staged.agg(F.count("*")).collect()[0][0] == 37
    second_files = rdd_files()
    assert new_files <= second_files
    assert not (second_files - after_files)


@pytest.mark.parametrize("backend", ["local", "durable"])
def test_backends_are_result_equivalent(spark, backend, monkeypatch):
    monkeypatch.setenv(ST.BACKEND_ENV, backend)
    sub = _subtree(spark)
    staged = ST.stage(sub)
    assert {tuple(r) for r in staged.collect()} == _expected(spark)
    # two further consumers of the SAME staged frame agree
    assert staged.count() == 37
    assert (
        staged.agg(F.sum("s")).collect()[0][0]
        == sum(s for _g, s, _n in _expected(spark))
    )


def test_stage_dispatcher_env_knob(spark, monkeypatch):
    sub = _subtree(spark)
    calls = []
    monkeypatch.setattr(
        ST, "_BACKENDS", {**ST._BACKENDS, "durable": lambda df: calls.append(df) or df}
    )
    monkeypatch.setenv(ST.BACKEND_ENV, "durable")
    ST.stage(sub)
    assert len(calls) == 1, "env knob must route to the durable backend"
    monkeypatch.setenv(ST.BACKEND_ENV, "bogus")
    with pytest.raises(ValueError, match="unknown stage backend"):
        ST.stage(sub)


def test_env_knob_rejects_eager_parquet_backend(spark, monkeypatch):
    """$SPARK_GRAFT_STAGE_BACKEND only selects LAZY backends: stage()
    sits inside registry query functions, where an eager backend would
    run full pipelines at plan-construction time (the r7 trap)."""
    sub = _subtree(spark)
    monkeypatch.setenv(ST.BACKEND_ENV, "parquet")
    before = _jobs_started(spark)
    with pytest.raises(ValueError, match="unknown stage backend"):
        ST.stage(sub)
    assert _jobs_started(spark) == before
