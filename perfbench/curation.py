"""``curation``: the LLM-curation side built on the nightly job.

One round of curation lands a batch of documents through the streaming
ingest (``ingest_stream.Stream.drain``: quality gate, held-out n-gram
gate, routed writes, LSH and BM25 appends, one file per epoch) and then
runs the batch curation kernels over the corpus once
(``query_mix.Mix.run_pass``: minhash dedup, fuzzy join, n-gram
decontamination, top-k similarity). The round's source files are
written before its clock starts and its outputs are checked after it
stops. The same text and dedup kernels thus run per epoch against
stores and once over the full corpus, so a kernel change that helps one
use and costs the other shows in the per-layer numbers of the same run.

Set-up generates the tables from the seed, runs the checking pass of
the query mix, a one-epoch drain and one more untimed pass; together
they pay the cold start.

End-to-end: ``op_s`` is the median round, ``step_s`` the median query
latency over the timed rounds. The detail line's ``halves_agree``
compares the query latencies of the first and second half of the
rounds.
"""

from __future__ import annotations

import time

import datagen
import ingest_stream
import query_mix
from harness import Result, engine_metrics, median


def run(ctx, t0: float) -> Result:
    res = Result()
    tracer = ctx.tracer
    sf_dir = ctx.scratch("star")
    sizes = datagen.star_tables(sf_dir, ctx.seed)
    mix = query_mix.Mix(ctx, res, sf_dir)
    stream = ingest_stream.Stream(ctx, res, sf_dir)

    t = time.perf_counter()
    mix.run_pass(check=True)
    check_s = time.perf_counter() - t
    cold = stream.finish(stream.drain(stream.prepare(epochs=1)))
    # the second execution of each query is still far from settled
    ctx.settle()
    warm_pass_s = sum(mix.run_pass().values())
    setup_s = time.perf_counter() - t0

    rounds: list[dict] = []

    def one_round(i: int) -> float:
        traced = ctx.trace and i % 2 == 1
        drain = stream.prepare()
        ctx.settle()
        tracer.enabled = traced
        start = time.perf_counter()
        with tracer.span("curation.round", engine=True):
            stream.drain(drain, traced=traced)
            walls = mix.run_pass()
        wall = time.perf_counter() - start
        tracer.enabled = False
        rounds.append({"wall": wall, "traced": traced,
                       "drain": stream.finish(drain), "walls": walls})
        return wall

    # traced runs bracket each traced round with untraced ones, so the
    # overhead is not confounded with the warm-up trend
    ctx.measure(one_round, min_samples=3 if ctx.trace else 2)
    untraced = [r for r in rounds if not r["traced"]]
    query_walls = [w for r in untraced for w in r["walls"].values()]
    res.end_to_end = {
        "setup_s": setup_s,
        "op_s": median([r["wall"] for r in untraced]),
        "step_s": median(query_walls),
    }
    res.detail.update(
        round_s=res.end_to_end["op_s"],
        query_p50_s=res.end_to_end["step_s"],
        round_samples=[r["wall"] for r in untraced],
        drain_s=median([r["drain"]["wall"] for r in untraced]),
        epoch_s=median([t for r in untraced for t in r["drain"]["trigger_s"]]),
        pass_s=median([sum(r["walls"].values()) for r in untraced]),
        query_s={q: median([r["walls"][q] for r in untraced]) for q in mix.order},
        rounds=len(untraced),
        check_pass_s=check_s,
        cold_drain_s=cold["wall"],
        warm_pass_s=warm_pass_s,
        order=mix.order,
        epochs_per_drain=ingest_stream.EPOCHS,
        train_docs=stream.train.num_rows,
        heldout_docs=stream.n_heldout,
        routed=rounds[-1]["drain"]["routed"],
        star_rows=sizes,
    )
    res.self_check_halves([list(r["walls"].values()) for r in untraced],
                          ctx.bounds["step_s"])
    if ctx.trace:
        traced = [r for r in rounds if r["traced"]]
        ops = tracer.indices("curation.round")
        res.per_layer = {
            **query_mix.layer_metrics(ctx, tracer),
            **ingest_stream.layer_metrics(tracer, [r["drain"] for r in traced]),
            **engine_metrics(tracer, ops, ctx.cpus),
            "trace.unaccounted_s": median([tracer.self_time(i) for i in ops]),
            "trace.op_overhead_s": median([r["wall"] for r in traced])
            - res.end_to_end["op_s"],
        }
    return res
