"""Entity ETL pipeline: the reference's two entry paths (SURVEY.md §3
E2 incremental, E3 full-load) as a reusable, transactional runtime.

Per entity folder of CSV deltas:

    full_load:    read all files -> normalize names -> drop dup columns
                  -> soft-delete anti-filter -> latest-per-key window
                  -> stringify temporals -> $company rename -> audit col
                  -> overwrite sink        (helper_functions.py:107-198)

    incremental:  prune files by watermark -> read delta -> same prep
                  -> drift-union with prior snapshot -> re-resolve
                  -> overwrite sink        (incremental_etl_v1.py:57-188)

Fixes over the reference:
- watermark commits PER ENTITY and only AFTER the sink write succeeds
  (the reference advances all watermarks even for failed entities —
  ``incremental_etl_v1.py:193-202`` — silently dropping their files).
- schema policy: the snapshot's schema drives delta casting
  (``coerce.align_for_union`` — existing columns keep the snapshot's
  types), while delta CSV reads stay inference-based ON PURPOSE: a
  frozen explicit schema would silently drop exactly the drifted
  columns this pipeline exists to carry (P6-P8), and the double scan
  inference costs is over the DELTA files only, never the table.
  Callers with a fixed contract can still pass an explicit schema via
  ``csv_entity.read_entity(..., schema=...)`` (+ ``capture_corrupt``
  quarantine).
- single-select projections keep the plan O(1) in column count.
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import sinks
from .operators import cdc
from .operators.coerce import stringify_temporal
from .operators.names import normalize_columns, rename_company, table_name_from_path
from .sources import csv_entity
from .sources.state import WatermarkStore

LAYOUT_ASIDE_SUFFIX = "__layout_aside"

log = logging.getLogger(__name__)


def prepare_entity_frame(df: DataFrame) -> DataFrame:
    """Shared prep: name normalize + dup-drop, temporal stringify,
    $company rename (P1/P2/P9/P10/P4)."""
    return rename_company(stringify_temporal(normalize_columns(df)))


def full_load(df: DataFrame, tie_breakers: tuple[str, ...] = ()) -> DataFrame:
    """E3: full-load resolution of a prepared changelog frame."""
    return cdc.resolve_snapshot(prepare_entity_frame(df), tie_breakers=tie_breakers)


def incremental_merge(
    snapshot: DataFrame, delta: DataFrame, tie_breakers: tuple[str, ...] = ()
) -> DataFrame:
    """E2: merge a prepared delta into the prior snapshot."""
    return cdc.merge_cdc(snapshot, prepare_entity_frame(delta), tie_breakers=tie_breakers)


class EntityPipeline:
    """Filesystem-backed runner for a landing zone of entity folders.

    Layout: ``{landing_dir}/{entity}/*.csv`` -> ``{sink_dir}/{table}``
    (parquet), with per-entity watermark state in ``{state_dir}``.
    """

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        sink_dir: str,
        state_dir: str,
        tie_breakers: tuple[str, ...] = (),
        bucket_partitions: int | None = None,
        rollup: dict | None = None,
    ):
        """``bucket_partitions``: when set, the sink is hash-bucketed on
        the CDC key into that many partitions and incremental merges
        rewrite ONLY the delta-touched buckets (dynamic partition
        overwrite) — the fix for the reference's nightly full-table
        rewrite (``incremental_etl_v1.py:184-188``). At 100 TB this
        makes the nightly write O(|delta| / bucket density), not
        O(|table|).

        ``rollup``: ``{"keys": [...], "value": col}`` maintains a
        grouped SUM/COUNT aggregate of the snapshot alongside it
        (``{table}_rollup`` versioned sink), updated per run with
        retraction math over ONLY the delta-touched keys —
        materialized-view maintenance at O(|delta|) instead of a
        nightly O(|table|) recompute. Replay-safe across every crash
        window (see ``_maintain_rollup``).

        Aggregate envelope: an optional ``"aggs"`` entry widens the
        rollup beyond the default ``("sum", "count", "avg")``. SUM /
        COUNT / AVG are exactly retractable, so CDC updates/deletes
        fold in at O(|delta|). MIN / MAX are NOT retractable (deleting
        the current minimum needs the group rescanned for the
        runner-up), so configuring them switches incremental runs to
        the O(|table|) recompute path — logged per run, never silently
        wrong extrema. Unknown aggregate names fail fast here."""
        self.spark = spark
        self.landing_dir = landing_dir
        self.sink_dir = sink_dir
        self.store = WatermarkStore(state_dir)
        self.tie_breakers = tie_breakers
        self.bucket_partitions = bucket_partitions
        self.rollup = rollup
        if rollup is not None:
            from .operators import incr

            aggs = set(rollup.get("aggs", ("sum", "count", "avg")))
            unknown = aggs - incr.RETRACTABLE_AGGS - incr.NON_RETRACTABLE_AGGS
            if unknown:
                raise ValueError(
                    f"unsupported rollup aggs {sorted(unknown)}; supported: "
                    f"{sorted(incr.RETRACTABLE_AGGS | incr.NON_RETRACTABLE_AGGS)}"
                )
            self.rollup_aggs = tuple(sorted(aggs))
            self.rollup_retractable = not (aggs & incr.NON_RETRACTABLE_AGGS)

    def entities(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.landing_dir)
            if os.path.isdir(os.path.join(self.landing_dir, d))
        )

    def _sink_path(self, entity: str) -> str:
        return os.path.join(self.sink_dir, table_name_from_path(entity))

    def read_snapshot(self, entity: str, version: int | None = None) -> DataFrame | None:
        """Read the entity's published snapshot. ``version=None`` reads
        through the current pointer; ``version=-1`` is the current
        retained version, ``-2`` the previous (time travel — the sink
        keeps current + previous), a positive n the literal v_{n}."""
        path = self._sink_path(entity)
        if version is not None:
            return sinks.read_version(self.spark, sinks.version_path(path, version))
        # resolve the pointer once, so every file of the read comes from
        # one version even if a publish swaps the pointer meanwhile
        cur = sinks.current_version_path(path)
        if cur is None:
            return None
        # The canonical schema is commit metadata of every version
        # (sinks.write_version for pointer versions, _write_bucketed for
        # the bucketed dir), and sinks.read_version reads through it: no
        # footer-inference job. For a bucketed sink it is also what keeps
        # drifted columns: only delta-touched buckets are rewritten, so
        # after drift the directory holds MIXED parquet schemas, and a
        # footer read samples one of them at random (silently dropping a
        # drifted column, which the next merge would erase for good).
        # With the schema passed explicitly, files lacking a column yield
        # NULLs — the drift-union semantics — deterministically.
        if sinks.is_bucketed_dir(path) and sinks.read_table_schema(cur) is None:
            # Pre-r7 bucketed sink: no schema metadata yet, and after
            # drift the dir holds MIXED footers — footer sampling here
            # is the original r6 data-loss bug (the next merge would
            # record the truncated schema as canonical and erase the
            # column). One-time upgrade: derive the union schema via a
            # mergeSchema read (footer union of every file) and record
            # it, so future reads are schema-pinned. The bootstrap write
            # is BEST-EFFORT (r7 advice): this is a read path — on a
            # read-only mount, or when two concurrent readers race the
            # record, the reader must still get the correct mergeSchema
            # frame (the race is benign: both writers derive the same
            # union schema from the same files; the write path proper
            # re-records canonically on the next merge).
            merged = self.spark.read.option("mergeSchema", "true").parquet(cur)
            try:
                sinks.write_table_schema(cur, merged.schema)
            except OSError:
                pass  # read-only store: serve the frame, skip the cache
            return merged
        return sinks.read_version(self.spark, cur)

    def run_entity(self, entity: str) -> dict:
        """Process one entity; returns a status dict. Watermark commits
        only after the sink write succeeds."""
        entity_dir = os.path.join(self.landing_dir, entity)
        files = csv_entity.list_entity_files(entity_dir)
        state = self.store.get(entity)
        watermark = state["max_mtime"] if state else None
        pending = csv_entity.prune_files(files, watermark)
        if not pending:
            return {"entity": entity, "status": "no_new_files", "files": 0}

        delta = csv_entity.read_entity(self.spark, [f.path for f in pending])
        if self.bucket_partitions:
            # Crash recovery MUST precede the snapshot read: spark.read
            # .parquet lists files eagerly (InMemoryFileIndex), so a
            # bucket restored after the read would be invisible to the
            # retry's merge — exactly the touched bucket whose untouched
            # keys the recovery exists to save.
            out = self._sink_path(entity)
            self._recover_staging(out, out + "__staging")
        snapshot = self.read_snapshot(entity) if state else None
        if state and snapshot is None:
            # A committed watermark means earlier files were merged into
            # a published snapshot. Without it, this delta alone would be
            # published as the whole table and the earlier rows lost.
            raise FileNotFoundError(
                f"{entity} has a committed watermark but no published "
                f"snapshot at {self._sink_path(entity)}; to rebuild it from "
                f"every landed file, clear the entity's watermark state "
                f"({self.store._path(entity)})"
            )
        prepared = prepare_entity_frame(delta)
        # NOT pre-staged, by measurement (r10 verdict #7): the
        # bucketed/rollup path consumes `prepared` 2-3 times and each
        # consumer re-runs the inference CSV parse, which made an eager
        # scratch-parquet pre-stage the natural candidate — but the
        # recorded A/B (SCALING.md, r10) measured the staged run SLOWER
        # at both probed delta sizes (0.89x at 53k rows, 0.93x at
        # 267k): the delta parse is not the bottleneck, the merge/write
        # is, and the scratch write never amortizes.

        # Touched buckets computed ONCE per run (the rollup fold and the
        # bucketed write both need them; each used to run its own
        # distinct+collect over the inference-read delta). The delta key
        # is hashed AT THE SNAPSHOT'S KEY TYPE: the stored __bucket
        # values were hashed at that type, and CSV inference can type
        # the same key differently per batch (an all-numeric delta of a
        # string-keyed entity infers bigint; hash(5L) != hash('5')) —
        # hashing the raw inferred key would prune/swap the WRONG
        # buckets, destroying data. The cast mirrors exactly what
        # merge_cdc's drift-union does to the delta key before the
        # merged rows are re-bucketed.
        touched_buckets: list[int] | None = None
        if self.bucket_partitions and snapshot is not None:
            from pyspark.sql import functions as F

            ktype = snapshot.schema[cdc.KEY].dataType
            touched_buckets = [
                r["__b"]
                for r in prepared.select(
                    self._bucket_col(F.col(cdc.KEY).cast(ktype)).alias("__b")
                )
                .distinct()
                .collect()
            ]

        # Rollup maintenance runs BEFORE the snapshot publish: after a
        # crash between the two, the retry skips the (recorded) rollup
        # batch and re-merges the snapshot idempotently. The other order
        # would recompute the rollup delta against an already-merged
        # snapshot — a zero update, silently losing the batch.
        batch_files = sorted(f.path for f in pending)
        rollup_needs_recompute = (
            self._maintain_rollup(
                entity, snapshot, prepared, batch_files, touched_buckets
            )
            if self.rollup
            else False
        )

        if self.bucket_partitions:
            self._write_bucketed(entity, prepared, snapshot, touched_buckets)
        else:
            if snapshot is None:
                result = cdc.resolve_snapshot(prepared, tie_breakers=self.tie_breakers)
            else:
                result = cdc.merge_cdc(snapshot, prepared, tie_breakers=self.tie_breakers)
            result = cdc.add_audit(result)

            # ONE physical write per run: the merge plan reads the
            # current version through the sink pointer while the new
            # version is written beside it, then the pointer swaps
            # atomically (Iceberg-style snapshot commit).
            out = self._sink_path(entity)
            vdir = sinks.next_version_dir(out)
            sinks.write_version(result, vdir)
            sinks.publish_version(out, vdir)
        if rollup_needs_recompute:
            self._rollup_recompute(entity, batch_files)
        newest = max(pending, key=lambda f: (f.mtime, f.path))
        self.store.commit(entity, newest.path, newest.mtime)
        return {"entity": entity, "status": "ok", "files": len(pending)}

    def _bucket_col(self, key=None):
        """Bucket id of ``key`` (default: the CDC key column). Callers
        hashing DELTA keys must pass the key cast to the snapshot's key
        type — see the type note in run_entity."""
        from pyspark.sql import functions as F

        if key is None:
            key = F.col(cdc.KEY)
        return F.pmod(F.hash(key), F.lit(self.bucket_partitions)).cast("int")

    def _write_bucketed(
        self,
        entity: str,
        prepared: DataFrame,
        snapshot: DataFrame | None,
        touched_buckets: list[int] | None,
    ) -> None:
        """Bucketed sink path: full load writes every bucket; the
        incremental merge reads ONLY the delta-touched buckets
        (partition pruning on the snapshot scan) and replaces only those
        partitions. ONE physical Spark write to a staging dir, then
        per-bucket directory renames — metadata-only on a real
        filesystem/HDFS; S3-style stores have no directory rename, so
        a port to them would replace every rename here, not only the
        sink pointer. ``touched_buckets`` is
        computed by run_entity (snapshot-key-typed hash — see the type
        note there) and is None exactly when ``snapshot`` is None."""
        from pyspark.sql import functions as F

        out = self._sink_path(entity)
        tmp = out + "__staging"
        # Recovery already ran in run_entity (before the snapshot read —
        # see the ordering comment there); here staging is just cleared.
        shutil.rmtree(tmp, ignore_errors=True)
        if snapshot is None:
            result = cdc.resolve_snapshot(prepared, tie_breakers=self.tie_breakers)
        else:
            pruned_snapshot = snapshot.filter(
                F.col("__bucket").isin(touched_buckets)
            ).drop("__bucket")
            result = cdc.merge_cdc(
                pruned_snapshot, prepared, tie_breakers=self.tie_breakers
            )
        result = cdc.add_audit(result).withColumn("__bucket", self._bucket_col())
        result.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
        # The merged schema becomes the sink's canonical schema (commit
        # metadata — see read_snapshot). It only ever WIDENS: drift-union
        # keeps every snapshot column at the snapshot's type, so writing
        # it before the bucket swap is forward-compatible (a crash
        # between the two leaves old buckets readable under the wider
        # schema with NULLs for the not-yet-landed column, and the
        # uncommitted watermark re-applies the delta on retry).
        if snapshot is None:
            sinks.write_table_schema(tmp, result.schema)  # rides the rename
        else:
            sinks.write_table_schema(out, result.schema)
        if snapshot is None:
            # Switching an existing pointer-layout sink to bucketed.
            # The old pointer + versions are RENAMED aside (atomic,
            # metadata-only — never deleted before the new data is in
            # place), then the staging dir renames in, then the asides
            # are GC'd. A crash anywhere in between leaves either the
            # old layout restorable (see _recover_layout_switch) or the
            # new layout live; nothing is unrecoverable, and the
            # sink-absent window is two renames, not an O(data) rmtree.
            aside = out + LAYOUT_ASIDE_SUFFIX
            shutil.rmtree(aside, ignore_errors=True)
            os.makedirs(aside)
            if os.path.lexists(out):
                os.replace(out, os.path.join(aside, "pointer"))
            vroot = out + sinks.VERSIONS_SUFFIX
            if os.path.isdir(vroot):
                os.replace(vroot, os.path.join(aside, "versions"))
            os.replace(tmp, out)
            shutil.rmtree(aside, ignore_errors=True)
        else:
            self._swap_buckets(out, tmp, [f"__bucket={b}" for b in touched_buckets])

    def _swap_buckets(self, out: str, tmp: str, names: list[str]) -> None:
        """Two-phase bucket swap: each replaced bucket is moved ASIDE
        (into staging) before its replacement is renamed in, and
        nothing is deleted until every bucket is swapped — a crash
        mid-swap leaves the prior data recoverable (see
        _recover_staging) instead of silently losing the bucket's
        untouched keys on the watermark-uncommitted retry. Moving
        aside also clears a stale partition when a touched bucket
        emptied out (all its keys deleted)."""
        written = {d for d in os.listdir(tmp) if d.startswith("__bucket=")}
        aside = os.path.join(tmp, "__replaced")
        os.makedirs(aside, exist_ok=True)
        for name in names:
            dst = os.path.join(out, name)
            if os.path.lexists(dst):
                os.replace(dst, os.path.join(aside, name))
            if name in written:
                os.replace(os.path.join(tmp, name), dst)
        shutil.rmtree(tmp, ignore_errors=True)

    def compact_buckets(self, entity: str, min_files: int = 2) -> int:
        """Per-bucket small-file compaction for the bucketed sink (the
        bucketed twin of ``sinks.compact``, which refuses bucketed dirs
        because a whole-table coalesce would destroy the layout).

        Each merge run appends task-parallel files into its touched
        buckets, so long-lived buckets fragment. This rewrites ONLY the
        buckets holding >= ``min_files`` parquet files — O(fragmented),
        not O(table) — in one shuffled write (hash-repartition on
        ``__bucket`` gives each task whole buckets → one file per
        bucket), then swaps them through the same crash-safe two-phase
        rename as the merge path. The read goes through
        ``read_snapshot``'s explicit canonical schema, so post-drift
        mixed-schema buckets compact WITHOUT losing drifted columns
        (files lacking a column yield NULLs; the rewrite then
        materializes the full schema into every compacted bucket).
        Returns the number of buckets rewritten."""
        from pyspark.sql import functions as F

        out = self._sink_path(entity)
        if not sinks.is_bucketed_dir(out):
            raise ValueError(
                f"{out} is not a bucketed sink directory; pointer sinks "
                "compact with sinks.compact (the CLI guards this — direct "
                "API callers get the same loud mismatch instead of a "
                "silent 0-buckets no-op)"
            )
        tmp = out + "__staging"
        self._recover_staging(out, tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        # NB: legacy (pre-schema-metadata) sinks are safe here —
        # read_snapshot bootstraps the canonical schema via a one-time
        # mergeSchema read before any footer-sampled rewrite can happen.
        fragmented = []
        for d in sorted(os.listdir(out)):
            if not d.startswith("__bucket="):
                continue
            n = sum(
                f.endswith(".parquet") for f in os.listdir(os.path.join(out, d))
            )
            if n >= min_files:
                fragmented.append(int(d.split("=", 1)[1]))
        if not fragmented:
            return 0
        snap = self.read_snapshot(entity).filter(F.col("__bucket").isin(fragmented))
        (
            snap.repartition(len(fragmented), F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(tmp)
        )
        self._swap_buckets(out, tmp, [f"__bucket={b}" for b in fragmented])
        return len(fragmented)

    def _rollup_path(self, entity: str) -> str:
        return self._sink_path(entity) + "_rollup"

    def read_rollup(self, entity: str) -> DataFrame:
        """Published rollup in its finalized (double sum + mean) form."""
        from .operators import incr

        return incr.finalize_group_stats(
            sinks.read_version(
                self.spark, sinks.current_version_path(self._rollup_path(entity))
            )
        )

    def _publish_rollup_state(self, entity: str, state: DataFrame, batch_files: list[str]) -> None:
        out = self._rollup_path(entity)
        vdir = sinks.next_version_dir(out)
        sinks.write_version(state, vdir)
        sinks.write_meta(vdir, {"files": batch_files})
        sinks.publish_version(out, vdir)

    def _maintain_rollup(
        self,
        entity: str,
        snapshot: DataFrame | None,
        prepared: DataFrame,
        batch_files: list[str],
        touched_buckets: list[int] | None = None,
    ) -> bool:
        """Fold this batch into the rollup with retraction math over the
        delta-touched keys only. Returns True when a full recompute from
        the post-merge snapshot is required instead (caller runs it
        AFTER the snapshot publish).

        Replay safety: each rollup version records the batch's file list
        (atomically, inside the version dir). On a crash-retry —
        watermark never advanced, so the same files are pending —
        the recorded list matches and the fold is skipped. If MORE files
        landed between crash and retry, the pending set partially
        overlaps the recorded one; delta math would double-count the
        overlap, so it falls back to the O(|table|) recompute (rare,
        crash-window-only). Touched keys are a semi-join, so per run the
        cost is O(|delta| + |touched groups|) — with a bucketed
        snapshot the semi-join also partition-prunes."""
        from pyspark.sql import functions as F

        from .operators import incr

        keys, val = self.rollup["keys"], self.rollup["value"]
        out = self._rollup_path(entity)
        meta = sinks.read_meta(out)
        if meta is not None:
            prev, cur = set(meta["files"]), set(batch_files)
            if cur <= prev:
                return False  # crash-retry replay: already folded in
            if prev & cur:
                return True  # partial overlap -> recompute after publish
        elif sinks.current_version_path(out) is not None:
            # A PUBLISHED rollup without meta (e.g. a version produced
            # outside _publish_rollup_state) gives no way to prove a
            # crash-retry wasn't already folded — delta math could
            # double-count, so take the recompute fallback instead.
            return True
        if snapshot is None:
            state = incr.partial_group_stats(
                cdc.resolve_snapshot(prepared, tie_breakers=self.tie_breakers),
                keys,
                val,
                aggs=self.rollup_aggs,
            )
        else:
            if sinks.current_version_path(out) is None:
                return True  # rollup enabled on an existing sink: bootstrap
            if not self.rollup_retractable:
                # min/max configured: CDC deltas can delete/update the
                # current extremum, and min/max have no retraction —
                # the only correct incremental answer is a recompute
                # from the post-merge snapshot (see incr.py envelope).
                log.warning(
                    "rollup for %s uses non-retractable aggs %s; "
                    "incremental fold skipped, recomputing from snapshot",
                    entity,
                    sorted(set(self.rollup_aggs) & incr.NON_RETRACTABLE_AGGS),
                )
                return True
            old_state = sinks.read_version(self.spark, sinks.current_version_path(out))
            kcol = cdc.KEY
            # delta key CAST to the snapshot's key type before the
            # semi-join (same rule as the touched-bucket hash): CSV
            # inference can type the key differently per batch, and a
            # string-vs-bigint eqNullSafe would implicitly cast the
            # SNAPSHOT side (ANSI error on 'k3'; silent null-mismatch
            # pre-ANSI). merge_cdc's drift-union applies this exact
            # cast to the delta rows themselves.
            ktype = snapshot.schema[kcol].dataType
            touched = prepared.select(
                F.col(kcol).cast(ktype).alias("__tk")
            ).distinct()
            if touched_buckets is not None and "__bucket" in snapshot.columns:
                # Bucketed snapshot (r7): restrict to the delta-touched
                # buckets BEFORE the key semi-join — the `isin` on the
                # partition column prunes at the file index, so the fold
                # reads O(touched buckets), not the table. Touched
                # buckets are a superset of the touched keys' rows (the
                # semi-join then narrows to exact keys), so retraction
                # math is unchanged. The list arrives precomputed from
                # run_entity, hashed at the snapshot's key type.
                snapshot = snapshot.filter(F.col("__bucket").isin(touched_buckets))
            old_rows = snapshot.join(
                touched, F.col(kcol).eqNullSafe(F.col("__tk")), "left_semi"
            )
            new_rows = cdc.merge_cdc(old_rows, prepared, tie_breakers=self.tie_breakers)
            update = incr.partial_group_stats(new_rows, keys, val).unionByName(
                incr.negate_group_stats(incr.partial_group_stats(old_rows, keys, val))
            )
            state = incr.merge_group_stats(old_state, update, keys).filter(
                F.col("n_rows") > 0
            )
        self._publish_rollup_state(entity, state, batch_files)
        return False

    def _rollup_recompute(self, entity: str, batch_files: list[str]) -> None:
        """O(|table|) fallback: rebuild the rollup from the just-
        published snapshot (correct by construction; used only for
        bootstrap and the crash+new-files window)."""
        from .operators import incr

        keys, val = self.rollup["keys"], self.rollup["value"]
        state = incr.partial_group_stats(
            self.read_snapshot(entity), keys, val, aggs=self.rollup_aggs
        )
        self._publish_rollup_state(entity, state, batch_files)

    def _recover_staging(self, out: str, tmp: str) -> None:
        """Crash recovery for the two-phase bucket swap: a bucket moved
        aside but whose replacement never landed is restored before the
        retry, so the retry's merge sees the complete prior snapshot
        (its watermark was never committed, so the delta re-applies —
        the merge is idempotent)."""
        self._recover_layout_switch(out)
        aside = os.path.join(tmp, "__replaced")
        if not os.path.isdir(aside):
            return
        for name in os.listdir(aside):
            dst = os.path.join(out, name)
            if not os.path.lexists(dst):
                os.replace(os.path.join(aside, name), dst)

    def _recover_layout_switch(self, out: str) -> None:
        """Crash recovery for the pointer→bucketed layout switch: if the
        old layout was moved aside but the new directory never renamed
        in, restore versions first (so the pointer's target resolves),
        then the pointer. If the switch completed (``out`` exists), the
        asides are leftovers — GC them."""
        aside = out + LAYOUT_ASIDE_SUFFIX
        if not os.path.isdir(aside):
            return
        if not os.path.lexists(out):
            old_versions = os.path.join(aside, "versions")
            vroot = out + sinks.VERSIONS_SUFFIX
            if os.path.isdir(old_versions) and not os.path.lexists(vroot):
                os.replace(old_versions, vroot)
            pointer = os.path.join(aside, "pointer")
            if os.path.lexists(pointer):
                os.replace(pointer, out)
        shutil.rmtree(aside, ignore_errors=True)

    def run(self, only: list[str] | None = None) -> list[dict]:
        """Process every entity (or the CLI-style subset, S9). Failures
        are isolated per entity and reported, never swallowed silently —
        and a failed entity's watermark is NOT advanced."""
        results = []
        for entity in only or self.entities():
            try:
                results.append(self.run_entity(entity))
            except Exception as exc:  # noqa: BLE001 - per-entity isolation
                msg = str(exc).split("\n", 1)[0] or type(exc).__name__
                results.append(
                    {
                        "entity": entity,
                        "status": "error",
                        "error": f"{type(exc).__name__}: {msg}",
                    }
                )
        return results
