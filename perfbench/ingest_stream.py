"""The streaming half of the ``curation`` workload: drains of the
streaming ingest pipeline.

A drain has three steps, and only the middle one is timed: ``prepare``
writes the training documents as one parquet file per epoch into a
fresh source directory; ``drain`` runs
``streaming.ingest_pipeline.stream_ingest_pipeline`` with
``max_files_per_trigger=1`` and fresh stores until every epoch has
committed; ``finish`` reads the routed counts and store sizes. Every
epoch scores quality, gates on the held-out n-grams, writes the routed
directories and appends to the LSH and BM25 stores.

Check, per drain: the clean, rejected and contaminated documents add up
to the training documents, and every epoch committed (an epoch that
does not counts as failed).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

from harness import Result, dir_bytes, median
from layers import INGEST_STAGES

# one-file epochs per drain. Each epoch costs about 4 s of mostly fixed
# per-job overhead (~37 jobs) at this size, so more epochs would leave
# room for a single round in a run.
EPOCHS = 2
HELDOUT_MOD = 13


def _parquet_rows(path: str) -> int:
    """Rows of every parquet file under ``path``, from the footers."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(pq.read_metadata(os.path.join(d, f)).num_rows
                     for f in files if f.endswith(".parquet"))
    return total


def _progress_start(p: dict) -> float:
    """Wall-clock start of a trigger from its progress timestamp."""
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


class Stream:
    """The documents of ``sf_dir``, a seed-chosen held-out split (about
    1 in ``HELDOUT_MOD``) and the drains over the rest."""

    def __init__(self, ctx, res: Result, sf_dir: str):
        from pyspark.sql import functions as F

        from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import load_table

        self.ctx, self.res = ctx, res
        self.drains = 0
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        ids = docs.column("doc_id").to_numpy()
        held = np.random.default_rng([ctx.seed, HELDOUT_MOD]).random(len(ids)) < 1 / HELDOUT_MOD
        self.train = docs.select(["doc_id", "text"]).filter(pa.array(~held))
        self.heldout = load_table(ctx.spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).filter(F.col("doc_id").isin([int(x) for x in ids[held]]))
        self.schema = ctx.spark.createDataFrame([], "doc_id long, text string").schema
        self.n_heldout = int(held.sum())

    def prepare(self, epochs: int = EPOCHS) -> dict:
        """A fresh drain directory holding the training documents as one
        parquet file per epoch. Untimed; returns the drain's record,
        which ``drain`` and ``finish`` fill in."""
        work = self.ctx.scratch("drain")
        src = os.path.join(work, "src")
        os.makedirs(src)
        epoch_of = self.train.column("doc_id").to_numpy() % epochs
        for e in range(epochs):
            pq.write_table(self.train.filter(pa.array(epoch_of == e)),
                           os.path.join(src, f"part-{e:05d}.parquet"))
        return {"work": work, "epochs": epochs}

    def drain(self, d: dict, traced: bool = False) -> dict:
        """The timed part: the pipeline with fresh stores, from query
        start until every epoch has committed."""
        from dynamics_365_to_bigquery_spark_etl_pipeline_spark.streaming.ingest_pipeline import (
            stream_ingest_pipeline,
        )

        ctx, tracer, work = self.ctx, self.ctx.tracer, d["work"]
        d["stages"] = [] if traced else None
        start = time.perf_counter()
        with tracer.span("ingest.drain", engine=True) as sp:
            q = stream_ingest_pipeline(
                ctx.spark, os.path.join(work, "src"), self.schema, self.heldout,
                os.path.join(work, "out"), os.path.join(work, "idx"),
                os.path.join(work, "ck"), min_score=50, n=4, jaccard_min=0.5,
                max_files_per_trigger=1, bm25_path=os.path.join(work, "bm25"),
                stage_timings=d["stages"],
            )
            try:
                done = q.awaitTermination(120)
            except StreamingQueryException:  # its epochs count as failed below
                print(f"drain failed:\n{traceback.format_exc()}", file=sys.stderr, flush=True)
                done = True
        d["wall"] = time.perf_counter() - start
        if not done:
            q.stop()
        d["query"], d["span"] = q, sp
        return d

    def finish(self, d: dict) -> dict:
        """After the clock: count the committed epochs, check the routed
        counts against the training documents, size the stores and add
        the triggers to a traced drain's span."""
        res, tracer, work = self.res, self.ctx.tracer, d["work"]
        progress = [p for p in d.pop("query").recentProgress if p.get("numInputRows", 0) > 0]
        out = os.path.join(work, "out")
        routed = {k: _parquet_rows(os.path.join(out, k))
                  for k in ("clean", "rejected", "contaminated")}
        res.attempted += d["epochs"]
        res.failed += d["epochs"] - len(progress)
        res.check(f"routed_equals_train.drain{self.drains}",
                  sum(routed.values()) == self.train.num_rows,
                  {"routed": routed, "train": self.train.num_rows})
        self.drains += 1
        sp = d.pop("span")
        if sp is not None:
            offset = time.time() - time.perf_counter()
            for p in progress:
                s = _progress_start(p) - offset
                tracer.add("streaming.trigger", s,
                           s + p["durationMs"]["triggerExecution"] / 1e3, parent=sp)
        d.update(
            trigger_s=[p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            progress=progress,
            routed=routed,
            store_bytes=dir_bytes(os.path.join(work, "idx"))
            + dir_bytes(os.path.join(work, "bm25")),
        )
        return d


def layer_metrics(tracer, traced: list[dict]) -> dict[str, float]:
    progress = [p for d in traced for p in d["progress"]]

    def dur(*keys):
        return median([sum(p["durationMs"].get(k, 0) for k in keys) / 1e3 for p in progress])

    out = {
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.offsets_s": dur("latestOffset", "getBatch", "walCommit", "commitOffsets"),
    }
    stages: dict[str, list[float]] = {s: [] for s in INGEST_STAGES}
    for d in traced:
        for _, marks in d["stages"]:
            seen = dict.fromkeys(INGEST_STAGES, 0.0)
            for name, secs in marks:
                seen[name] = seen.get(name, 0.0) + secs
            for s in INGEST_STAGES:
                stages[s].append(seen[s])
    out.update({f"ingest.{s}_s": median(v) for s, v in stages.items()})
    last = traced[-1]
    out["ingest.store_bytes_per_doc"] = last["store_bytes"] / max(last["routed"]["clean"], 1)
    for k in ("clean", "rejected", "contaminated"):
        out[f"ingest.{k}_docs"] = float(last["routed"][k])
    drains = tracer.indices("ingest.drain")
    out["streaming.jobs_per_epoch"] = median(
        [tracer.total_counts(i).get("jobs", 0) for i in drains]) / EPOCHS
    return out
