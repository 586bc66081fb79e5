"""The benchmark's metric registry: every end-to-end and per-layer
metric with its unit. ``BENCHMARK.json`` lists exactly these (a
self-test checks it).

End-to-end metrics are shared by the workloads, each giving them its
own meaning: ``op_s`` is a night (cdc_nightly) or a curation round
(curation); ``step_s`` is a ``run_entity`` call or a query.

Per-layer metrics are grouped by the workload that exercises the
layer. A traced run reports its own group plus ``engine`` and
``trace``; the groups of layers it never touches read 0.
"""

from __future__ import annotations

END_TO_END = {"setup_s": "s", "op_s": "s", "step_s": "s"}

# the batch curation queries of the curation workload
MIX_QUERIES = (
    "q_sim_topk_matmul",
    "q_dedup_minhash_fast",
    "q_decontaminate_ngram",
    "q_fuzzy_join_d2",
)

# stages the ingest pipeline's ``stage_timings`` hook reports with the
# stores this benchmark enables
INGEST_STAGES = (
    "guard_probe",
    "quality_gate",
    "decontaminate",
    "clean_write",
    "clean_reread_pin",
    "bm25_append",
    "lsh_index",
    "compact_cadence",
)

PER_LAYER = {
    "engine": {
        "engine.jobs": "count",
        "engine.tasks": "count",
        "engine.failed_tasks": "count",
        "engine.cpu_s": "s",
        "engine.cpu_util": "ratio",
        "engine.gc_s": "s",
        "engine.shuffle_bytes": "bytes",
        "engine.spill_bytes": "bytes",
    },
    "trace": {
        "trace.op_overhead_s": "s",
        "trace.unaccounted_s": "s",
    },
    "cdc_nightly": {
        "sources.list_s": "s",
        "sources.read_s": "s",
        "sources.read_jobs": "count",
        "sources.state_s": "s",
        "pipeline.snapshot_s": "s",
        "operators.plan_s": "s",
        "pipeline.execute_s": "s",
        "pipeline.execute_tasks": "count",
        "pipeline.execute_shuffle_bytes": "bytes",
        "sinks.publish_s": "s",
        "sinks.bytes_written": "bytes",
        "sinks.write_amp": "ratio",
    },
    "curation": {
        name: unit
        for q in MIX_QUERIES
        for name, unit in (
            (f"plans.{q}_s", "s"),
            (f"plans.{q}.tasks", "count"),
            (f"plans.{q}.cpu_util", "ratio"),
        )
    }
    | {
        "streaming.trigger_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.plan_s": "s",
        "streaming.offsets_s": "s",
        "streaming.jobs_per_epoch": "count",
        **{f"ingest.{s}_s": "s" for s in INGEST_STAGES},
        "ingest.store_bytes_per_doc": "bytes",
        "ingest.clean_docs": "count",
        "ingest.rejected_docs": "count",
        "ingest.contaminated_docs": "count",
    },
}


def per_layer_names() -> dict[str, str]:
    out: dict[str, str] = {}
    for group in PER_LAYER.values():
        out.update(group)
    return out


def fill_untouched(workload: str, values: dict[str, float]) -> dict[str, float]:
    """A workload's traced values plus 0 for the groups of the layers it
    never touches. Its own groups must be complete."""
    own = {**PER_LAYER["engine"], **PER_LAYER["trace"], **PER_LAYER[workload]}
    missing = sorted(set(own) - set(values))
    if missing:
        raise KeyError(f"{workload} did not produce {missing}")
    return {name: float(values.get(name, 0.0)) for name in per_layer_names()}
