"""Structured Streaming CDC merge (SURVEY.md §2.6 re-expressed).

The reference hand-rolls micro-batch incremental processing: manual file
watermark, manual pruning, manual merge. Structured Streaming's file
source does exactly this natively — offset tracking in the checkpoint
replaces ``latest.csv``, ``maxFilesPerTrigger`` replaces the manual
batching, and ``foreachBatch`` runs the same merge the batch path uses,
transactionally per micro-batch.

At scale: the same code runs continuously against a cloud landing zone;
checkpointing gives exactly-once file-source semantics, and the sink
overwrite is idempotent (the reference's own recovery story, kept).

Also here: watermarked tumbling-window and session-window streaming
aggregations over event time — the streaming twins of the batch
``q_events_tumbling`` / ``q_events_sessionize`` oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .. import sinks
from ..operators import cdc
from .util import query_id_reader


def stream_cdc_merge(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    sink_dir: str,
    checkpoint_dir: str,
    key: str = cdc.KEY,
    order_col: str = cdc.MODIFIED_AT,
    tie_breakers: tuple[str, ...] = (),
    fmt: str = "parquet",
    compact_every: int = 0,
    compact_target_bytes: int = 128 * 1024 * 1024,
) -> StreamingQuery:
    """File-source stream -> foreachBatch CDC merge into the same
    versioned-pointer sink the batch pipeline publishes to.

    Each micro-batch merges against the current version (read through
    the pointer), writes the new version ONCE beside it, and swaps the
    pointer atomically — no staging re-read/rewrite, so write
    amplification is 1x. The merge is ``merge_cdc_delta_only``:
    untouched snapshot rows bypass the window sort entirely, so the
    shuffle cost per micro-batch is O(|batch|), not O(|table|).
    Restart/recovery is the file-source checkpoint plus the idempotent
    merge (replaying a batch re-resolves the same keys to the same
    rows).

    ``compact_every`` > 0 folds sink maintenance into the stream: every
    N committed micro-batches the current version is bin-packed to
    ~``compact_target_bytes`` files via ``sinks.compact`` (published as
    one more atomic version — readers never see a mix). Why in-stream:
    each merge's output parallelism leaves a file per task, so a
    long-running ingest accretes small files that tax the scan; the
    batch CLI has ``--compact-target-mb`` for this, the stream gets the
    same lever here. Replay-safe: a replayed epoch at worst re-compacts
    an already-compacted version (idempotent rewrite)."""
    reader = spark.readStream.schema(schema)
    stream = reader.parquet(source_dir) if fmt == "parquet" else reader.options(
        header=True, multiLine=True, quote='"'
    ).csv(source_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = sinks.current_version_path(sink_dir)
        if cur is not None:
            snapshot = sinks.read_version(batch_df.sparkSession, cur)
            merged = cdc.merge_cdc_delta_only(
                snapshot, batch_df, key, order_col, tie_breakers
            )
        else:
            merged = cdc.resolve_snapshot(batch_df, key, order_col, tie_breakers)
        vdir = sinks.next_version_dir(sink_dir)
        sinks.write_version(merged, vdir)
        sinks.publish_version(sink_dir, vdir)
        if compact_every and (epoch_id + 1) % compact_every == 0:
            sinks.compact(
                batch_df.sparkSession, sink_dir, target_bytes=compact_target_bytes
            )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming DataFrame in,
    streaming DataFrame out). Late rows beyond the watermark are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedup: drop rows whose key was already
    seen, with state bounded by the event-time watermark (without the
    watermark, dedup state grows forever — the at-scale failure mode)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys or ["event_id"])


def stream_dedup_index(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    pairs_dir: str,
    checkpoint_dir: str,
    jaccard_min: float = 0.5,
    compact_every: int = 0,
    max_files_per_trigger: int = 1,
    lock_timeout: float = 60.0,
) -> StreamingQuery:
    """Near-dup detection AT INGEST: file-source stream of documents ->
    per-micro-batch probe of the incremental LSH index
    (operators/dedup_index.py) -> near-dup pairs appended under
    ``pairs_dir/epoch=<n>``.

    Exactly-once choreography (the index's two-phase API): pairs are
    computed against COMMITTED index state and written to the epoch dir
    (overwrite -> idempotent) BEFORE the index commit. A replayed epoch
    either re-runs identically (crash before commit) or is skipped with
    its pairs already on disk (crash after commit). Per micro-batch the
    work is O(|batch| + collisions) — new docs never rescan the indexed
    corpus beyond their own bucket collisions.

    The index batch key is namespaced by the streaming query's run
    identity (the ``id`` Spark persists in ``checkpoint_dir/metadata``):
    epoch ids restart at 0 whenever a checkpoint dir is rebuilt, so a
    bare ``epoch-<n>`` key would make a NEW stream pointed at an
    EXISTING index silently skip its early epochs as "already
    committed", dropping pairs without error. With the query id in the
    key, a restart of the SAME checkpoint still replays exactly-once
    (same id persists), while a fresh checkpoint gets fresh keys.
    ``pairs_dir`` is still keyed by bare epoch (its layout is the
    consumer contract), so pairs_dir must live and die with
    checkpoint_dir — a fresh checkpoint needs a fresh pairs_dir.

    ``compact_every`` > 0 folds index maintenance into the stream:
    after every N APPENDED batches (the generation dir a previous fold
    left is excluded from the count) the per-batch store dirs are
    merged into one generation dir (``LshDedupIndex.compact`` —
    crash-safe, probe-identical), bounding probe fan-in at O(N) dirs
    instead of O(#epochs) on a long-running ingest.

    ``max_files_per_trigger`` sets the ingestion rate (source files per
    micro-batch). It TRADES AGAINST ``compact_every``: a larger trigger
    means fewer, bigger epochs — fewer index dirs per ingested file, so
    compaction can run less often for the same fan-in bound (the store
    grows one dir per EPOCH, not per file); a smaller trigger lowers
    per-pair detection latency. The default 1 maximizes epoch count
    (the worst case for fan-in, which is what the maintenance tests and
    benches exercise); production ingests should size it to their
    latency budget — measured throughput at triggers 1/4/16 in
    SCALING.md (scripts/bench_stream_index.py --max-files)."""
    from ..operators.dedup_index import LshDedupIndex

    idx = LshDedupIndex(
        spark, index_path, jaccard_min=jaccard_min, lock_timeout=lock_timeout
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    _query_id = query_id_reader(checkpoint_dir)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        batch_key = f"{_query_id()}-epoch-{epoch_id}"
        if batch_df.isEmpty() or idx.is_committed(batch_key):
            return
        pairs, commit = idx.prepare_batch(batch_df, batch_key)
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"epoch={epoch_id}")
        )
        commit()
        # cadence keys on APPENDED batches: a gen<N> dir is always live
        # after the first fold, so counting committed_batches() would
        # rewrite the FULL index every epoch from then on (review
        # finding, shared with the IVF ingest leg)
        if compact_every and len(idx.appended_batches()) >= compact_every:
            idx.compact()

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    max_delay: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """Shared body of the inner/left-outer watermarked stream-stream
    joins — ONE place owns the projections, watermarks, and the
    time-bound condition so the two variants cannot drift apart."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        (F.col(key) == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
        how,
    ).select(key, "l_event_id", "l_ts", "r_event_id", "r_ts")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with
    the right events of the same ``key`` arriving within ``max_delay``
    AFTER it (click -> conversion attribution shape).

    Both sides are watermarked AND the join condition bounds the
    event-time gap — that pair is what lets Spark garbage-collect join
    state (each side's buffered rows expire once the other side's
    watermark passes the bound). An unbounded-condition stream-stream
    join buffers forever: the at-scale failure mode this operator
    exists to avoid."""
    return _stream_stream_join(left, right, key, max_delay, watermark, "inner")


def stream_stream_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: like
    ``stream_stream_join`` but a left event with NO right match inside
    ``max_delay`` still emits — with NULL right columns — once BOTH
    watermarks pass its join bound (before that, Spark cannot know a
    match won't still arrive; this is why outer stream-stream joins
    REQUIRE the watermark + time-bound condition, not merely benefit
    from it).

    Emission caveat users must know: the null-extended row for a left
    event near the END of a stream only surfaces after a later batch
    advances the watermark past its bound — a drained/idle stream holds
    those rows in state rather than guessing
    (``test_stream_stream_outer_join_semantics`` pins exactly this)."""
    return _stream_stream_join(
        left, right, key, max_delay, watermark, "left_outer"
    )


def stream_session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation per user (native session_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
