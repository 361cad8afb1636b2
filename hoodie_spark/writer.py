"""Write operators: bulk_insert / insert / upsert / delete / overwrite.

Reference parity: SparkRDDWriteClient.java:118-255 (operation surface),
BaseSparkCommitActionExecutor.java:135-280 (profile → partition → handles),
UpsertPartitioner.java:60-214 (small-file bin packing),
HoodieMergeHandle.java:89-201 / HoodieCreateHandle.java:51 /
HoodieAppendHandle.java:71 (physical write handles),
SparkWriteHelper.java:50 (preCombine dedup),
BulkInsertSortMode.java:25-27 (NONE / GLOBAL_SORT / PARTITION_SORT).

Spark-first execution model (replaces the reference's RDD pipeline):
  * every write is ONE Catalyst-planned DataFrame job ending in a single
    ``write.partitionBy(partition, kind, bucket).parquet(tmp)`` — the
    repartition by bucket guarantees exactly one file per (partition, bucket),
    so "write handles" collapse into the shuffle;
  * index tagging = a join against the manifest-pruned key index, run on the
    batch as it arrives; dedup(preCombine) = a window row_number over the
    tagged batch per (key, target file group), so the index's key-bounds
    and partition-list scans run no window — all JVM-side,
    whole-stage-codegen'd;
  * the COW merge works per file group, as HoodieMergeHandle does: stored
    rows of the candidate groups, updates and inserts are unioned and
    repartitioned ONCE by (partition, file group); the payload resolution is
    a window keyed (partition, file group, record key) (a full-outer join
    over the same partitioning for partial-update payloads) and its sort is
    the write's sort, so each rewrite shuffles every row once. Compaction
    folds its slices the same way;
  * the driver only plans buckets (greedy bin packing over manifest stats) and
    renames tmp part-files to their final ``fileId_token_instant`` names —
    O(files touched) metadata ops, no data movement;
  * the small frames the driver plans and joins against (the insert-bucket
    plan, index candidates, live file groups) are JVM ``LocalRelation``s
    built by :func:`~hoodie_spark.frames.local_frame`: a pickled Python
    list would fork Python workers on every evaluation just to unpickle a
    few rows, while a ``LocalRelation`` keeps the write path in the JVM;
  * per-file record counts and record-key min/max are harvested from parquet
    FOOTERS (pyarrow, no data scan) and recorded in commit metadata — that
    manifest is what makes upsert index pruning and clean/clustering planning
    O(metadata) at 100 TB.
"""

from __future__ import annotations

import logging
import math
import os
import urllib.parse
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import timeline as tl
from .config import (COMMIT_SEQNO, COMMIT_TIME, FILE_NAME, IS_DELETED,
                     META_COLUMNS, NO_PARTITION, OPERATION, PARTITION_PATH,
                     RECORD_KEY, BootstrapMode, IndexType, MergePolicy,
                     TableType, WriteConcurrencyMode, WriteOperation)
from .frames import local_frame
from .fsview import FileSystemView, file_id_of
from .index import tag_location
from .keygen import with_keys

logger = logging.getLogger(__name__)

# internal shuffle/bucketing columns — never stored
PP = "__pp"
KIND = "__kind"
BUCKET = "__bucket"
OP = "__op"
ORD = "__ord"
INCOMING = "__incoming"
HARD = "__hard"  # hard delete: EmptyHoodieRecordPayload.java — wins regardless of ordering
ARRIVAL = "__arrival"  # source order: the preCombine tie-break among equal orderings
IS_NEW = "__is_new"  # insert row opening a new file group
CURVE = "__curve"  # clustering's space-filling-curve key: orders rows, never stored
WRITE_TOKEN = "0-0-0"


class SortMode:
    """BulkInsertSortMode.java:25-27."""

    NONE = "none"
    GLOBAL_SORT = "global_sort"
    PARTITION_SORT = "partition_sort"


class WriteConflictError(Exception):
    """Optimistic concurrency control abort: another writer committed to an
    overlapping file group since this transaction began
    (SimpleConcurrentFileWritesConflictResolutionStrategy.java)."""


class WriteResult:
    def __init__(self, instant: str, operation: str, stats: list[dict]):
        self.instant = instant
        self.operation = operation
        self.stats = stats

    @property
    def num_records(self) -> int:
        return sum(s.get("num_records", 0) for s in self.stats)


def base_file_name(file_id, instant):
    return F.concat(file_id, F.lit(f"_{WRITE_TOKEN}_"), F.lit(instant), F.lit(".parquet"))


def delta_file_name(file_id, instant):
    return F.concat(file_id, F.lit(f"_{instant}.delta.parquet"))


class WriteClient:
    """SparkRDDWriteClient equivalent. One instance per HoodieTable."""

    def __init__(self, table):
        self.table = table
        self.spark = table.spark
        # merged into the next commit's metadata extra (checkpoints / batch
        # ids — Hudi stores the DeltaStreamer checkpoint the same way,
        # DeltaSync.java:311)
        self.commit_extra: dict = {}
        # OCC: instant -> latest completed data instant when the txn began
        self._txn_baseline: dict[str, str] = {}
        # instant -> cancel callable for its background heartbeat refresher
        self._hb_cancel: dict = {}

    # ------------------------------------------------------------ public ops
    def bulk_insert(self, df: DataFrame, sort_mode: str = SortMode.GLOBAL_SORT) -> WriteResult:
        """SparkRDDWriteClient.java:223 — sorted initial load via the row
        writer path (HoodieDatasetBulkInsertHelper.java:115): a plain
        DataFrame write, globally range-sorted by (partition, key).

        The prepared batch is persisted across the sizing count and the
        write job ONLY when combine_before_insert ran (the window dedup
        would otherwise re-execute per pass). For the plain projection
        shape the cache is a measured LOSS: building the InMemoryRelation
        materializes every column (2.7 s at sf0.1 lineitem) while the
        passes it deduplicates are column-pruned — the sizing count reads
        nothing (0.2 s) and only the write job reads full width, once.
        At 100 TB the no-cache shape is also the only one that fits:
        ingest-sized inputs cannot live in executor storage.

        Without combine_before_insert the sizing count and the write job
        each re-execute ``df``, so the source must be deterministic: a
        source that yields other rows on its second evaluation writes files
        sized for rows it no longer has."""
        wcfg = self.table.write_config
        self._ensure_index_ready()
        with self.transaction(tl.COMMIT) as instant:
            prepared = self._prepare(df)
            pinned = wcfg.combine_before_insert
            if pinned:
                prepared = self._dedup(prepared).persist()
            try:
                n = prepared.count()
                if n == 0:
                    return self._commit(instant, tl.COMMIT, WriteOperation.BULK_INSERT, [])
                if wcfg.index_type == IndexType.BUCKET:
                    # Initial-load-only guard (Hudi restricts bucket bulk_insert
                    # the same way): bucket fids are deterministic, so a second
                    # bulk_insert into a partition with live groups would write
                    # a NEWER base slice at the same fid containing only the new
                    # batch — latest_slice() would then shadow the earlier
                    # slice and previously committed rows silently vanish.
                    target_pps = [r[0] for r in
                                  prepared.select(PARTITION_PATH)
                                  .distinct().collect()]
                    live = self.table.view().live_group_ids(
                        partitions=target_pps)
                    occupied = sorted(pp for pp, fids in live.items() if fids)
                    if occupied:
                        self._abort_write(instant, [])
                        raise ValueError(
                            "bucket-index bulk_insert is an initial-load "
                            f"operation; partitions {occupied[:5]} already "
                            "have live file groups that deterministic bucket "
                            "fids would shadow — use upsert()/insert() for "
                            "follow-on batches")
                num_files = max(1, math.ceil(n / wcfg.records_per_file()))
                stats = self._write_new_base_files(prepared, instant, num_files,
                                                   sort_mode=sort_mode)
                return self._commit(instant, tl.COMMIT, WriteOperation.BULK_INSERT,
                                    stats, index_fn=self._index_fn(stats, instant))
            finally:
                if pinned:
                    prepared.unpersist()

    def insert(self, df: DataFrame) -> WriteResult:
        """SparkRDDWriteClient.java:172 — insert with small-file packing, no
        index lookup.

        Outside a bucket index the batch is not cached: the workload profile
        and the write job each re-execute ``df``, so the source must be
        deterministic — otherwise the insert-bucket plan is sized for rows
        the write job no longer sees."""
        return self._upsert_like(df, WriteOperation.INSERT)

    def upsert(self, df: DataFrame) -> WriteResult:
        """SparkRDDWriteClient.java:149."""
        return self._upsert_like(df, WriteOperation.UPSERT)

    def delete(self, df: DataFrame) -> WriteResult:
        """SparkRDDWriteClient.java:248 — delete by key; ``df`` needs the
        record-key (and, for non-global index, partition) source columns."""
        return self._upsert_like(df, WriteOperation.DELETE)

    def filter_exists(self, df: DataFrame) -> DataFrame:
        """HoodieReadClient.java:186 — drop records whose key already exists."""
        prepared = self._prepare(df)
        tagged = tag_location(self.spark, prepared, self.table)
        return tagged.filter(F.col("_target_file_id").isNull()).drop(
            "_target_file_id", "_target_pp")

    def delete_partitions(self, partitions: list[str]) -> WriteResult:
        """SparkRDDWriteClient.java:255 — replacecommit, metadata-only."""
        with self.transaction(tl.REPLACECOMMIT) as instant:
            replaced = self.table.view().live_group_ids(partitions=partitions)
            return self._commit(instant, tl.REPLACECOMMIT, WriteOperation.DELETE_PARTITION,
                                [], replaced=replaced)

    def insert_overwrite(self, df: DataFrame) -> WriteResult:
        """SparkRDDWriteClient.java:198 — replace file groups in the
        partitions touched by ``df`` (HoodieReplaceCommitMetadata).

        Without combine_before_insert the sizing count and the write job
        each re-execute ``df``, so the source must be deterministic (as for
        :meth:`bulk_insert`); the same holds for
        :meth:`insert_overwrite_table`."""
        return self._overwrite(df, WriteOperation.INSERT_OVERWRITE)

    def insert_overwrite_table(self, df: DataFrame) -> WriteResult:
        """SparkRDDWriteClient.java:214."""
        return self._overwrite(df, WriteOperation.INSERT_OVERWRITE_TABLE)

    def bootstrap(self, source_dir: str,
                  mode: str = BootstrapMode.METADATA_ONLY) -> WriteResult:
        """SparkRDDWriteClient.java:144 / SparkBootstrapCommitActionExecutor.

        METADATA_ONLY: register every parquet file under ``source_dir`` in a
        commit without moving or rewriting it — pure driver metadata; one
        footer read per file for record counts (parallelize over an RDD of
        paths at cluster scale). Partition path = the file's directory
        relative to the source root, so the table's partition config must
        produce those same values (e.g. dirs ``1995/`` with
        ``partition_expr="cast(year(o_orderdate) as string)"``) or the index
        won't find bootstrapped records. FULL_RECORD: read + bulk_insert.
        """
        src = (self.spark.read.option("recursiveFileLookup", "true")
               .parquet(source_dir))
        self.table.evolve_schema(src)
        self.table.save_properties()
        if mode == BootstrapMode.FULL_RECORD:
            res = self.bulk_insert(src)
            res.operation = WriteOperation.BOOTSTRAP
            return res

        with self.transaction(tl.COMMIT) as instant:
            stats: list[dict] = []
            for root, _dirs, files in os.walk(source_dir):
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    ap = os.path.abspath(os.path.join(root, fn))
                    pp = os.path.relpath(root, source_dir)
                    pp = "" if pp == "." else pp
                    st = _footer_stats(ap)
                    stats.append({
                        "partition": pp, "file_id": uuid.uuid4().hex[:13] + "-0",
                        "file_name": fn, "path": ap, "instant": instant,
                        "size": os.path.getsize(ap),
                        "num_records": st["num_records"],
                        "min_key": None, "max_key": None,
                        "is_delta": False, "bootstrap": True,
                    })
            return self._commit(instant, tl.COMMIT, WriteOperation.BOOTSTRAP, stats,
                                extra={"bootstrap_mode": mode,
                                       "source_dir": os.path.abspath(source_dir)})

    # ------------------------------------------------------------- internals
    @contextmanager
    def transaction(self, action: str):
        """The one write lifecycle every operation and table service runs
        (the reference's TransactionManager around a commit action
        executor): begin → plan → write → check conflicts → validate →
        index → publish, or abandon. Yields the instant.

        * **Begin before the plan snapshot.** The instant and its conflict
          baseline are taken on entry, so the block snapshots the view,
          tags, profiles or plans its table service AFTER the baseline: a
          commit that completes while the block plans sorts above it and
          :meth:`_check_conflicts` sees it. Planned first, such a commit
          would escape the check — compaction would shadow a delta it
          never merged, clustering would replace a group and drop rows it
          never read.
        * **Abandon on failure.** Any exception leaving the block cancels
          the heartbeat refresher and re-raises; the beat then goes stale
          and reclamation (lazy or eager) rolls the pending instant and its
          partial files back. After :meth:`_abort_write` (a conflict, a
          failed validator) this is a no-op. A block that returns without
          publishing (a table service with nothing to do) wrote nothing:
          its instant is removed on the spot.
        * **Index only after the conflict check.** Record-index entries
          reach storage only through ``_commit(index_fn=...)``, after the
          conflict check and the pre-commit validators, so an aborted
          instant never leaves entries that would make live keys look
          moved or removed."""
        instant = self._begin(action)
        try:
            yield instant
        except BaseException:
            self._hb_abandon(instant)
            raise
        if instant in self._hb_cancel:  # publish and abort both stop the beat
            self._abort_write(instant, [])

    def _begin(self, action: str) -> str:
        """Start the transaction (see :meth:`transaction`): the conflict
        baseline, a fresh beat, the requested/inflight instant, then the
        background refresher."""
        if self.table.write_config.failed_writes_policy == "eager":
            from .services.rollback import rollback_failed_writes
            rollback_failed_writes(self.table)
        instant = self.table.timeline.new_instant_time()
        last = self.table.timeline.last_completed()
        self._txn_baseline[instant] = last.timestamp if last else ""
        # beat FIRST: a pending instant must never be visible without a
        # live beat, or a concurrent eager reclaimer in the gap would treat
        # this brand-new write as a dead one and roll it back. The
        # refresher (HoodieHeartbeatClient's timer: Spark jobs routinely
        # outlast the expiry) starts only once the instant exists, so a
        # failed transition leaves a beat that goes stale, never a
        # refresher keeping a half-created instant live
        hb = tl.Heartbeat(self.table.base_path)
        hb.refresh(instant)
        self.table.timeline.create_requested(action, instant)
        self.table.timeline.transition_inflight(action, instant)
        expiry = self.table.write_config.heartbeat_expiry_s
        self._hb_cancel[instant] = hb.auto_refresh(
            instant, max(0.05, expiry / 4))
        return instant

    def _hb_abandon(self, instant: str) -> None:
        """A write died between _begin and publish: cancel the background
        refresher but LEAVE the beat file — it goes stale after
        heartbeat_expiry_s and reclamation (lazy or eager) then rolls the
        pending instant back. Without the cancel, the daemon thread keeps
        the zombie looking live for the driver's lifetime and its partial
        files are never reclaimed."""
        cancel = self._hb_cancel.pop(instant, None)
        if cancel is not None:
            cancel()

    def _stop_heartbeat(self, instant: str) -> None:
        """Cancel the background refresher, THEN remove the beat file —
        the other order lets a late beat resurrect a published/aborted
        instant's heartbeat and block reclamation forever."""
        self._hb_abandon(instant)
        tl.Heartbeat(self.table.base_path).stop(instant)

    def _ensure_index_ready(self) -> None:
        """Init/backfill the record index BEFORE any table lock is taken
        (ensure_initialized acquires the lock itself; calling it from inside
        _commit's lock would deadlock the non-reentrant file lock)."""
        if self.table.write_config.record_index:
            from . import record_index
            record_index.ensure_initialized(self.table)

    def _index_fn(self, stats: list[dict], instant: str, dels=None):
        """Record-index upkeep for ``_commit(index_fn=...)``: entries for
        the keys in this commit's new base files, plus 'R' entries for
        ``dels``. The entry DataFrame is computed AND materialized here,
        before the lock is taken: the expensive Spark jobs (reading the
        just-written base files, probing the delete batch) run lock-free;
        inside the lock only the parquet append remains, keeping lock hold
        time short for concurrent writers (lock_timeout_s). ``_commit``
        releases the cached entries on every way out."""
        if not self.table.write_config.record_index:
            return None
        from . import record_index

        entries = record_index.entries_from_written_files(
            self.table, stats, instant)
        if entries is not None:
            entries = entries.persist()
            entries.count()  # materialize pre-lock
        has_dels = dels is not None and bool(dels.limit(1).count())

        def fn():
            if entries is not None:
                record_index.append_entries(self.table, entries)
            if has_dels:
                record_index.append_removals(self.table, dels, instant)

        fn.cleanup = entries.unpersist if entries is not None else None
        return fn

    def _commit(self, instant: str, action: str, operation: str, stats: list[dict],
                replaced: dict[str, list[str]] | None = None,
                extra: dict | None = None, index_fn=None) -> WriteResult:
        """Check conflicts (inside the table lock under OCC), then
        validate, index and publish (:meth:`_do_commit`)."""
        # re-arm before the commit critical section: the Spark jobs between
        # _begin and here can outlast the expiry on a loaded cluster, and a
        # stale beat would make this LIVE write look reclaimable
        tl.Heartbeat(self.table.base_path).refresh(instant)
        try:
            if self.table.write_config.concurrency_mode == WriteConcurrencyMode.OPTIMISTIC:
                from .timeline import LockProvider

                with LockProvider(self.table.base_path,
                                  self.table.write_config.lock_timeout_s,
                                  self.table.write_config.lock_expiry_s):
                    self._check_conflicts(instant, stats, replaced)
                    return self._do_commit(instant, action, operation, stats,
                                           replaced, extra, index_fn)
            return self._do_commit(instant, action, operation, stats,
                                   replaced, extra, index_fn)
        finally:
            # any way out (published, conflict abort, lock timeout, failed
            # validator) releases the pre-lock-materialized index entries,
            # or the cached DataFrame leaks for the session lifetime
            if getattr(index_fn, "cleanup", None) is not None:
                index_fn.cleanup()

    def _check_conflicts(self, instant: str, stats: list[dict],
                         replaced: dict[str, list[str]] | None) -> None:
        """TransactionManager + SimpleConcurrentFileWritesConflictResolution-
        Strategy: abort when a commit that completed after this transaction
        began touched any of the same file groups. On conflict the written
        files are removed (marker-based rollback equivalent — the manifest
        lists exactly what we wrote)."""
        baseline = self._txn_baseline.get(instant, "")
        ours: set[tuple[str, str]] = {(s["partition"], s["file_id"]) for s in stats}
        for pp, fids in (replaced or {}).items():
            ours.update((pp, fid) for fid in fids)
        theirs: set[tuple[str, str]] = set()
        for other in self.table.timeline.completed(tl.DATA_ACTIONS):
            if other.timestamp <= baseline or other.timestamp == instant:
                continue
            md = self.table.timeline.metadata(other)
            for s in md.get("write_stats", []):
                theirs.add((s["partition"], s["file_id"]))
            for pp, fids in md.get("replaced", {}).items():
                theirs.update((pp, fid) for fid in fids)
        overlap = ours & theirs
        if overlap:
            self._abort_write(instant, stats)
            raise WriteConflictError(
                f"instant {instant} conflicts on file groups "
                f"{sorted(overlap)[:5]} with a commit after {baseline}")

    def _abort_write(self, instant: str, stats: list[dict]) -> None:
        """Remove a not-yet-published instant's files + timeline markers
        (marker-based rollback equivalent — the manifest lists exactly what
        we wrote). Used by the OCC conflict abort and failed pre-commit
        validation."""
        fs = self.table.storage
        for s in stats:
            p = os.path.join(self.table.base_path, s["path"])
            if not os.path.isabs(s["path"]) and fs.exists(p):
                fs.remove(p)
        # bloom sketches may have been harvested already — drop the aborted
        # instant's sidecar so no junk accumulates
        from . import bloom
        bloom.drop_sidecar(self.table, instant)
        for state in (tl.REQUESTED, tl.INFLIGHT):
            for act in tl.DATA_ACTIONS:
                self.table.timeline.delete_instant(
                    tl.Instant(instant, act, state))
        self._stop_heartbeat(instant)

    def _do_commit(self, instant: str, action: str, operation: str,
                   stats: list[dict],
                   replaced: dict[str, list[str]] | None = None,
                   extra: dict | None = None, index_fn=None) -> WriteResult:
        total_bytes = sum(s.get("size", 0) for s in stats)
        total_recs = sum(s.get("num_records", 0) for s in stats)
        merged_extra = dict(self.commit_extra)
        self.commit_extra = {}
        merged_extra.update(extra or {})
        meta = {
            "operation": operation,
            "write_stats": stats,
            "replaced": replaced or {},
            "schema": self.table.config.schema_json,
            "avg_record_size": int(total_bytes / total_recs) if total_recs else None,
            "extra": merged_extra,
        }
        validators = self.table.write_config.pre_commit_validators
        if validators:
            # the would-be post state: the manifest fold + this commit's
            # metadata overlaid — nothing on the timeline yet, so a failed
            # gate aborts with readers never having seen the write
            from .validators import PreCommitContext
            post_view = self.table.view()
            post_view.apply_pending(instant, meta)
            ctx = PreCommitContext(self.table, instant, stats, post_view)
            try:
                for v in validators:
                    v(ctx)
            except BaseException:
                self._abort_write(instant, stats)
                raise
        if index_fn is not None:
            index_fn()
        self.table.timeline.complete(action, instant, meta)
        self._stop_heartbeat(instant)
        self.table.save_properties()
        if total_recs:
            self.table.write_config.record_size_estimate = max(
                8, int(total_bytes / total_recs))
        self._fire_commit_callbacks(instant, operation, stats)
        self._maintain_secondary_indexes(instant, stats)
        return WriteResult(instant, operation, stats)

    def _maintain_secondary_indexes(self, instant: str,
                                    stats: list[dict]) -> None:
        """Post-publish secondary-index upkeep. A failure here must not
        fail the (already published) commit, but a silently-stale index
        would cause FALSE NEGATIVES on lookups — so on error the affected
        indexes are invalidated (marker dropped) and a warning logged."""
        from . import secondary_index
        cols = secondary_index.indexed_columns(self.table)
        if not cols:
            return
        try:
            secondary_index.append_entries_for_stats(self.table, stats,
                                                     instant)
        except Exception as e:  # noqa: BLE001
            for c in cols:
                secondary_index.drop_index(self.table, c)
            logger.warning(
                "secondary index maintenance failed (%s); dropped indexes "
                "%s — recreate with create_index()", e, cols)

    def _fire_commit_callbacks(self, instant: str, operation: str,
                               stats: list[dict]) -> None:
        """HoodieWriteCommitCallback.call — invoked after a successful
        publish with the HoodieWriteCommitCallbackMessage fields."""
        cbs = self.table.write_config.commit_callbacks
        if not cbs:
            return
        msg = {"commit_time": instant,
               "table_name": self.table.config.name,
               "base_path": self.table.base_path,
               "operation": operation,
               "write_stats": stats}
        for cb in cbs:
            try:
                cb(msg)
            except Exception:
                if self.table.write_config.callback_on_commit_error == "raise":
                    raise
                logger.warning(
                    "commit callback %r failed for %s", cb, instant,
                    exc_info=True)

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Key generation + schema evolution + column alignment, in one
        select."""
        df = with_keys(df, self.table.config)
        self.table.evolve_schema(df)
        aligned = [(F.col(name) if name in df.columns else F.lit(None)).cast(dtype).alias(name)
                   for name, dtype in self.table.data_columns()]
        return df.select(F.col(RECORD_KEY), F.col(PARTITION_PATH), *aligned)

    def _merge_cols(self, prepared: DataFrame, operation: str) -> dict:
        """The merge columns of an upsert-like batch, added in one
        projection: ORD (:meth:`_ord_col`), OP ('U'/'D'), HARD (1 for a
        hard delete) and ARRIVAL (the preCombine tie-break: the later
        source row wins among equal orderings)."""
        if operation == WriteOperation.DELETE:
            op, hard = F.lit("D"), F.lit(1)
        elif IS_DELETED in prepared.columns:
            op = F.when(F.col(IS_DELETED) == True, F.lit("D")).otherwise(F.lit("U"))  # noqa: E712
            hard = F.lit(0)
        else:
            op, hard = F.lit("U"), F.lit(0)
        return {ORD: self._ord_col(prepared), OP: op, HARD: hard,
                ARRIVAL: F.monotonically_increasing_id()}

    def _ord_col(self, df: DataFrame):
        """ORD, the preCombine ordering: the precombine field, or 0 without
        one. Frames arrive aligned to the table schema (:meth:`_prepare`,
        stored rows), so a batch that lacks the field (a key-only delete)
        carries its typed null and unions against stored rows line up;
        HARD ranks above ORD, so deletes still win."""
        pre = self.table.config.precombine_field
        return F.col(pre) if pre and pre in df.columns else F.lit(0)

    def _dedup(self, df: DataFrame, global_index: bool | None = None) -> DataFrame:
        """preCombine (SparkWriteHelper.java:50): keep max-ordering row per
        key — a window, shuffled once by key, no reduceByKey needed."""
        if global_index is None:
            global_index = self.table.global_index
        keys = [RECORD_KEY] if global_index else [PARTITION_PATH, RECORD_KEY]
        w = Window.partitionBy(*keys).orderBy(F.desc_nulls_last(ORD), F.desc(COMMIT_SEQNO_TIEBREAK))
        return (df.withColumn(ORD, self._ord_col(df))
                .withColumn(COMMIT_SEQNO_TIEBREAK, F.monotonically_increasing_id())
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", ORD, COMMIT_SEQNO_TIEBREAK))

    def _stamp_meta(self, df: DataFrame, instant: str, kind: str = "base",
                    set_cols: dict | None = None) -> DataFrame:
        """:meth:`_finalize_cols` with the meta columns stamped for
        ``instant`` (HoodieRecord.java:37-41); FILE_NAME derives from
        BUCKET."""
        name = base_file_name(F.col(BUCKET), instant) if kind == "base" \
            else delta_file_name(F.col(BUCKET), instant)
        return self._finalize_cols(df, kind, {
            **(set_cols or {}),
            COMMIT_TIME: F.lit(instant),
            COMMIT_SEQNO: F.concat_ws("_", F.lit(instant),
                                      F.spark_partition_id().cast("string"),
                                      F.monotonically_increasing_id().cast("string")),
            FILE_NAME: name})

    def _finalize_cols(self, df: DataFrame, kind: str | None = None,
                       set_cols: dict | None = None) -> DataFrame:
        """The one projection to the write layout: the meta and data
        columns, OPERATION and the internal columns ``df`` carries, KIND
        (``kind`` when given) and the physical __pp dir column.
        ``set_cols`` maps a meta column or OPERATION to the expression that
        replaces (or adds) it."""
        set_cols = set_cols or {}
        data_cols = [n for n, _ in self.table.data_columns()]
        keep = META_COLUMNS + data_cols + [
            c for c in (OPERATION,) if c in df.columns or c in set_cols]
        extras = [c for c in (BUCKET, OP, ORD, INCOMING, HARD, IS_NEW, CURVE)
                  if c in df.columns]
        if kind is not None:
            extras.append(F.lit(kind).alias(KIND))
        elif KIND in df.columns:
            extras.append(KIND)
        pp = F.when(F.col(PARTITION_PATH) == "", F.lit(NO_PARTITION)) \
              .otherwise(F.col(PARTITION_PATH))
        return df.select(*[set_cols[c].alias(c) if c in set_cols else c for c in keep],
                         *extras, pp.alias(PP))

    # --------------------------------------------------- upsert/insert/delete
    def _upsert_like(self, df: DataFrame, operation: str) -> WriteResult:
        cfg = self.table.config
        wcfg = self.table.write_config
        is_mor = cfg.table_type == TableType.MERGE_ON_READ
        # delete by key without the partition source columns → global lookup
        # (GlobalDeleteKeyGenerator semantics)
        from .keygen import partition_resolvable
        force_global = (operation == WriteOperation.DELETE
                        and not partition_resolvable(df, cfg))
        self._ensure_index_ready()
        action = tl.DELTACOMMIT if is_mor else tl.COMMIT
        with self.transaction(action) as instant:
            prepared = self._prepare(df)
            prepared = prepared.withColumns(self._merge_cols(prepared, operation))
            view = self.table.view()
            use_bucket = wcfg.index_type == IndexType.BUCKET
            if operation == WriteOperation.INSERT and not use_bucket:
                null_s = F.lit(None).cast("string")
                tagged = prepared.withColumns({"_target_file_id": null_s,
                                               "_target_pp": null_s})
                # pure projection over the source (no index join to save):
                # caching it materializes every column while the profile
                # pass is column-pruned — same measured trade as
                # bulk_insert; only the write job needs full width
                pinned = False
            else:
                # bucket index tags INSERTs too: rows for an existing bucket
                # group must merge into it (the group IS the index). The
                # index reads the batch before any dedup: its key bounds and
                # partition list are the same with or without duplicates
                tagged = tag_location(self.spark, prepared, self.table, view=view,
                                      force_global=force_global)
                # the tagging join against the table index is worth running
                # once, not once per consuming action
                pinned = True
            # global index: update the record in its existing partition
            tagged = tagged.withColumn(
                PARTITION_PATH, F.coalesce(F.col("_target_pp"), F.col(PARTITION_PATH)))
            if wcfg.combine_before_upsert and operation != WriteOperation.INSERT:
                tagged = self._dedup_keep_op(tagged)
            if pinned:
                tagged = tagged.persist()
            try:
                updates = tagged.filter(F.col("_target_file_id").isNotNull()) \
                                .withColumn(BUCKET, F.col("_target_file_id"))
                inserts = tagged.filter(F.col("_target_file_id").isNull()) \
                                .filter(F.col(OP) != "D")  # deletes of absent keys are no-ops

                # ---- ONE profiling action (workload profile,
                # BaseSparkCommitActionExecutor.java:135): per-(partition,
                # target-file, is-delete) counts give the insert counts, the
                # affected update groups, AND the per-file update stats without
                # three separate collects over the tagged batch
                profile = tagged.groupBy(
                    PARTITION_PATH, "_target_file_id",
                    (F.col(OP) == "D").alias("__isdel")).count().collect()
                insert_counts: dict[str, int] = {}
                affected_updates: dict[tuple[str, str], int] = {}
                for pp, fid, isdel, n in profile:
                    if fid is None:
                        if not isdel:  # deletes of absent keys are no-ops
                            insert_counts[pp] = insert_counts.get(pp, 0) + n
                    else:
                        key = (pp, fid)
                        affected_updates[key] = affected_updates.get(key, 0) + n
                pack_small = not is_mor
                if use_bucket and "__bucket_fid" in tagged.columns:
                    # fixed routing: each insert creates (or joins) its bucket's
                    # file group; no small-file packing, no planner
                    plan = []
                    inserts = inserts.withColumns({BUCKET: F.col("__bucket_fid"),
                                                   IS_NEW: F.lit(True)})
                else:
                    plan = self._plan_insert_buckets(view, insert_counts, pack_small)
                    inserts = self._route_inserts(inserts, plan)

                emptied: dict[str, list[str]] = {}
                if is_mor:
                    stats = self._write_mor(updates, inserts, view, instant)
                else:
                    stats, emptied = self._write_cow(updates, inserts, view, instant,
                                                     affected_updates, plan)
                dels = None
                if wcfg.record_index:
                    dels = tagged.filter((F.col(OP) == "D") &
                                         F.col("_target_file_id").isNotNull()) \
                                 .select(RECORD_KEY, PARTITION_PATH)
                n_upd = sum(s.get("num_updates", 0) for s in stats)
                return self._commit(instant, action, operation, stats,
                                    replaced=emptied or None,
                                    extra={"num_updates": n_upd},
                                    index_fn=self._index_fn(stats, instant, dels))
            finally:
                if pinned:
                    tagged.unpersist()

    def _dedup_keep_op(self, df: DataFrame) -> DataFrame:
        """preCombine of the tagged batch: one row per key (per partition
        unless the index is global) and target file group, the max ORD
        winning and the later arrival breaking ties. A key stored in two
        groups is tagged to both, and each group keeps its own copy of
        the winner, as a dedup before tagging would."""
        keys = [RECORD_KEY] if self.table.global_index else [PARTITION_PATH, RECORD_KEY]
        w = Window.partitionBy(*keys, "_target_file_id").orderBy(
            F.desc_nulls_last(ORD), F.desc(ARRIVAL))
        return (df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn", ARRIVAL))

    def _route_inserts(self, inserts: DataFrame, plan: list) -> DataFrame:
        """BUCKET and IS_NEW of each insert row from the insert-bucket
        plan: a broadcast range join on the key's hash."""
        if not plan:
            return inserts.withColumns({BUCKET: F.lit(None).cast("string"),
                                        IS_NEW: F.lit(True)})
        plan_df = F.broadcast(local_frame(
            self.spark, plan,
            "pp string, lo double, hi double, file_id string, is_new boolean"))
        u = (F.pmod(F.xxhash64(F.col(RECORD_KEY)), F.lit(1_000_000)) / 1_000_000.0)
        return (inserts.withColumn("__u", u)
                .join(plan_df, (F.col(PARTITION_PATH) == F.col("pp")) &
                      (F.col("__u") >= F.col("lo")) & (F.col("__u") < F.col("hi")),
                      "left")
                .withColumns({BUCKET: F.col("file_id"),
                              IS_NEW: F.coalesce(F.col("is_new"), F.lit(True))})
                .drop("pp", "lo", "hi", "file_id", "is_new", "__u"))

    def _plan_insert_buckets(self, view: FileSystemView, insert_counts: dict[str, int],
                             pack_small: bool) -> list[tuple]:
        """Greedy small-file bin packing on the driver from manifest stats
        (UpsertPartitioner.java:157-214). Returns [(pp, lo, hi, file_id,
        is_new)]: capacity-weighted hash ranges so record→bucket assignment
        is a pure function of the record key (deterministic, no extra
        shuffle beyond the final bucket repartition). The candidate small
        files come from one fold over the partitions with inserts."""
        wcfg = self.table.write_config
        rpf = wcfg.records_per_file()
        rec_size = max(8, wcfg.record_size_estimate)
        pps = sorted(pp for pp, n in insert_counts.items() if n)
        small: dict[str, list[tuple[str, int, bool]]] = {}  # pp -> (file_id, capacity, is_new)
        if pack_small and pps:
            for sl in view.latest_slices(partitions=pps):
                bf = sl.base_file
                if bf is not None and not sl.log_files and \
                        0 < bf.size < wcfg.parquet_small_file_limit:
                    cap = int((wcfg.parquet_max_file_size - bf.size) / rec_size)
                    if cap > 0:
                        small.setdefault(sl.partition, []).append((sl.file_id, cap, False))
        plan = []
        for pp in pps:
            buckets = small.get(pp, [])
            remaining = max(0, insert_counts[pp] - sum(c for _, c, _ in buckets))
            n_new = math.ceil(remaining / rpf) if remaining > 0 else 0
            if not buckets and n_new == 0:
                n_new = 1
            buckets += [(uuid.uuid4().hex[:13] + "-0", rpf, True) for _ in range(n_new)]
            total = sum(c for _, c, _ in buckets)
            acc = 0.0
            for i, (fid, cap, is_new) in enumerate(buckets):
                lo = acc
                acc = 1.0 if i == len(buckets) - 1 else acc + cap / total
                plan.append((pp, lo, acc, fid, is_new))
        return plan

    # ------------------------------------------------------------- COW merge
    def _write_cow(self, updates: DataFrame, inserts: DataFrame,
                   view: FileSystemView, instant: str,
                   affected_updates: dict[tuple[str, str], int], plan: list
                   ) -> tuple[list[dict], dict[str, list[str]]]:
        """HoodieMergeHandle.java:89 as one DataFrame job: the candidate
        file groups are the update targets plus every small file in the
        insert ``plan``; their latest base files, the updates and all
        inserts are merged per file group (:meth:`_merge`) and each
        group that received a row is rewritten as a new file slice. A
        planned small file whose hash range drew no insert keeps its
        slice: a broadcast semi join against the batch's (partition, file
        group) pairs drops its stored rows as they are scanned, before the
        shuffle (a window over the group would hold all of its rows).
        Groups outside the plan see zero IO.
        ``affected_updates`` comes from the single profiling action.
        Returns ``(stats, emptied)``: the written files' stats, and
        partition → file ids of update groups whose rewrite kept no row."""
        small = {(pp, fid) for pp, _lo, _hi, fid, is_new in plan if not is_new}
        old = self.table.read_slices_base(
            view.slices_for_groups(set(affected_updates) | small))
        old = self._finalize_cols(self._keep_file_group(old, instant, extra={
            ORD: self._ord_col(old), OP: F.lit("O"), INCOMING: F.lit(0),
            HARD: F.lit(0), IS_NEW: F.lit(False)}), "base")
        incoming = updates.unionByName(inserts, allowMissingColumns=True)
        incoming = self._stamp_meta(incoming.withColumns({
            INCOMING: F.lit(1), IS_NEW: F.coalesce(F.col(IS_NEW), F.lit(False))}), instant)
        if small - affected_updates.keys():
            old = old.join(F.broadcast(incoming.select(PP, BUCKET)), [PP, BUCKET],
                           "left_semi")
        merged = self._merge(old, incoming)
        stats = self._write_files(merged, instant, already_partitioned=True,
                                  sort_cols=[RECORD_KEY])
        for s in stats:
            s["num_updates"] = affected_updates.get(
                (s["partition"], s["file_id"]), 0)
        return stats, emptied_groups(affected_updates, stats)

    def _merge(self, old: DataFrame, incoming: DataFrame) -> DataFrame:
        """Payload resolution (HoodieRecordPayload.combineAndGetUpdateValue)
        per file group, as HoodieMergeHandle merges each group on its own.
        old/incoming both carry META + data + PP/BUCKET/KIND/OP/ORD/INCOMING/
        HARD/IS_NEW. The union is repartitioned ONCE by (PP, BUCKET) and
        sorted once; the merge, keyed (PP, BUCKET, key), needs neither again,
        and the caller writes the result as it stands. Rows opening a new
        group bypass the key merge, so a batch written without preCombine
        keeps its duplicates there, as the create handle does."""
        policy = self.table.write_config.merge_policy or self.table.config.payload
        if policy == MergePolicy.DEFAULT:
            # DefaultHoodieRecordPayload: incoming must beat the STORED
            # record's ordering too (needUpdatingPersistedRecord:93)
            order = [F.desc(HARD), F.desc_nulls_last(ORD), F.desc(INCOMING)]
        else:
            # OverwriteWithLatestAvroPayload.java:50-52: ordering only dedups
            # within the batch; vs storage, incoming always wins
            order = [F.desc(HARD), F.desc(INCOMING), F.desc_nulls_last(ORD)]
        grouped = (old.unionByName(incoming.select(*old.columns))
                   .repartition(PP, BUCKET)
                   .sortWithinPartitions(PP, BUCKET, RECORD_KEY, *order))
        if policy == MergePolicy.PARTIAL_UPDATE:
            return self._merge_partial(grouped)
        w = Window.partitionBy(PP, BUCKET, RECORD_KEY).orderBy(*order)
        return (grouped.withColumn("__rn", F.row_number().over(w))
                .filter(((F.col("__rn") == 1) | F.col(IS_NEW)) & (F.col(OP) != "D"))
                .drop("__rn", OP, ORD, INCOMING, HARD, IS_NEW))

    def _merge_partial(self, grouped: DataFrame) -> DataFrame:
        """OverwriteNonDefaultsWithLatestAvroPayload.java: null incoming
        fields keep the stored value. The full outer join of stored and
        incoming rows on (PP, BUCKET, key), done on the partitioning and
        sort ``grouped`` already has (a join operator would shuffle both
        sides again by all three keys): full-frame windows per key show
        each incoming row its stored row. A winning incoming row takes
        coalesce(incoming, stored) per column, a losing one carries the
        stored row, a stored row no incoming row matched passes as it is,
        and a new key (no stored row) always wins."""
        kw = Window.partitionBy(PP, BUCKET, RECORD_KEY)
        inc = F.col(INCOMING) == 1
        # PP/BUCKET/key/KIND/FILE_NAME are equal on both sides of a match
        merged = [c for c in grouped.columns if c not in
                  (PP, BUCKET, RECORD_KEY, KIND, FILE_NAME, OP, ORD, INCOMING, HARD, IS_NEW)]
        g = grouped.withColumns({
            **{f"__o_{c}": F.first(F.when(~inc, F.col(c)), ignorenulls=True).over(kw)
               for c in merged + [ORD]},
            "__has_old": F.min(INCOMING).over(kw) == 0,
            "__matched": F.max(INCOMING).over(kw) == 1})
        inc_wins = inc & ((F.col(HARD) == 1) | ~F.col("__has_old") |
                          (F.col(ORD) >= F.col(f"__o_{ORD}")) | F.col(f"__o_{ORD}").isNull())
        keep = (inc & ~(inc_wins & (F.col(OP) == "D"))) | (~inc & ~F.col("__matched"))
        data_cols = {n for n, _ in self.table.data_columns()}
        sel = []
        for c in grouped.columns:
            if c in (OP, ORD, INCOMING, HARD, IS_NEW):
                continue
            if c not in merged:
                sel.append(c)
                continue
            o = F.col(f"__o_{c}")
            lose = o if c in data_cols else F.coalesce(o, F.col(c))
            sel.append(F.when(inc_wins, F.coalesce(F.col(c), o))
                       .when(inc, lose).otherwise(F.col(c)).alias(c))
        return g.filter(keep).select(*sel)

    # ------------------------------------------------------------- MOR write
    def _write_mor(self, updates: DataFrame, inserts: DataFrame,
                   view: FileSystemView, instant: str) -> list[dict]:
        """HoodieAppendHandle.java:71 — updates/deletes append columnar delta
        files to their file slice (Avro log blocks replaced with small Parquet
        deltas — columnar, splittable, idiomatic); inserts create new base
        files. One job writes both via the KIND partition column."""
        upd = self._stamp_meta(updates, instant, "delta", {OPERATION: F.col(OP)})
        new_rows = self._stamp_meta(inserts, instant, set_cols={OPERATION: F.lit("I")})
        write_df = upd.unionByName(new_rows.select(*upd.columns))
        stats = self._write_files(write_df, instant, sort_cols=[RECORD_KEY])
        # base instants of the groups this commit appended to, not a fold
        # of every group in the table
        deltas = [s for s in stats if s["is_delta"]]
        base_of = {(sl.partition, sl.file_id): sl.base_instant
                   for sl in view.slices_for_groups(
                       {(s["partition"], s["file_id"]) for s in deltas})}
        for s in deltas:
            s["base_instant"] = base_of.get((s["partition"], s["file_id"]), instant)
            s["num_updates"] = s["num_records"]
        return stats

    # ------------------------------------------------------------- overwrite
    def _overwrite(self, df: DataFrame, operation: str) -> WriteResult:
        wcfg = self.table.write_config
        self._ensure_index_ready()
        with self.transaction(tl.REPLACECOMMIT) as instant:
            prepared = self._prepare(df)
            # cached across the sizing count and the write only when the
            # combine dedup ran (same measured trade as bulk_insert: the
            # cache build costs more than the column-pruned count it saves
            # on the plain projection shape)
            pinned = wcfg.combine_before_insert
            if pinned:
                prepared = self._dedup(prepared).persist()
            try:
                n = prepared.count()
                view = self.table.view()
                stats: list[dict] = []
                if n > 0:
                    num_files = max(1, math.ceil(n / wcfg.records_per_file()))
                    stats = self._write_new_base_files(prepared, instant, num_files)
                if operation == WriteOperation.INSERT_OVERWRITE_TABLE:
                    replaced = view.live_group_ids()
                else:
                    replaced = view.live_group_ids(
                        partitions=sorted({s["partition"] for s in stats}))
                return self._commit(instant, tl.REPLACECOMMIT, operation, stats,
                                    replaced=replaced,
                                    index_fn=self._index_fn(stats, instant))
            finally:
                if pinned:
                    prepared.unpersist()

    # ------------------------------------------------------- new file layout
    def _write_new_base_files(self, df: DataFrame, instant: str, num_files: int,
                              order_cols=(RECORD_KEY,),
                              sort_mode: str = SortMode.GLOBAL_SORT,
                              restamp: bool = True) -> list[dict]:
        """The one layout for new base files (bulk_insert, overwrites,
        clustering), sorted by ``order_cols`` within each file.

        With a bucket index: one file per (partition, hash bucket), named by
        the bucket fid — the key → file-group hash IS the index, so every
        write, from the first, keeps each key in its hash bucket's group
        (tag-free upserts rely on it) and never mints planner ids.
        Otherwise ``num_files`` Spark partitions, range-partitioned by
        (partition, *order_cols) under GLOBAL_SORT (hash by partition under
        PARTITION_SORT, round-robin and unsorted under NONE), each written
        as one file named by a fresh prefix plus its Spark partition id.

        ``restamp=False`` keeps each row's commit meta columns: clustering
        moves records, it does not re-commit them, so incremental reads
        are unaffected."""
        wcfg = self.table.write_config
        bucketed = wcfg.index_type == IndexType.BUCKET
        if bucketed:
            from .index import bucket_fid_expr
            fid = bucket_fid_expr(wcfg.bucket_index_num_buckets)
            arranged = (df.repartition(F.col(PARTITION_PATH), fid)
                        .withColumn(BUCKET, fid))
        else:
            if sort_mode == SortMode.GLOBAL_SORT:
                spread = df.repartitionByRange(
                    num_files, F.col(PARTITION_PATH),
                    *[F.col(c) for c in order_cols])
            elif sort_mode == SortMode.PARTITION_SORT:
                spread = df.repartition(num_files, F.col(PARTITION_PATH))
            else:
                spread = df.repartition(num_files)
            prefix = uuid.uuid4().hex[:13]
            arranged = spread.withColumn(BUCKET, F.concat(
                F.lit(prefix + "-"), F.spark_partition_id().cast("string")))
        if restamp:
            write_df = self._stamp_meta(arranged, instant)
        else:
            write_df = self._finalize_cols(arranged, "base", {
                FILE_NAME: base_file_name(F.col(BUCKET), instant)})
        sort_cols = list(order_cols) \
            if bucketed or sort_mode != SortMode.NONE else None
        return self._write_files(write_df, instant, already_partitioned=True,
                                 sort_cols=sort_cols)

    def _keep_file_group(self, df: DataFrame, instant: str,
                         delta: bool = False, extra: dict | None = None) -> DataFrame:
        """In-place rewrite (COW merge, compaction, log compaction): each
        row keeps the file group its current file belongs to and is named
        for ``instant``; ``extra`` columns ride in the same projection."""
        fid = file_id_of(FILE_NAME)
        name = delta_file_name if delta else base_file_name
        return df.withColumns({BUCKET: fid, FILE_NAME: name(fid, instant),
                               **(extra or {})})

    # ----------------------------------------------------------- file writer
    def _write_files(self, df: DataFrame, instant: str, *, already_partitioned=False,
                     sort_cols=None) -> list[dict]:
        """The single physical write: partitionBy(__pp, __kind, __bucket) into
        a temp dir, then driver renames part-files to
        ``fileId_writeToken_instant.parquet`` (FSUtils.java:131 naming) and
        harvests footer stats. Exactly one part-file per bucket because the
        bucket column is the (only) repartition key."""
        tmp = os.path.join(self.table.base_path, ".hoodie", ".temp", instant)
        internal = [c for c in (OP, ORD, INCOMING, HARD, IS_NEW) if c in df.columns]
        w = df.drop(*internal)
        if not already_partitioned:
            w = w.repartition(F.col(PP), F.col(BUCKET))
        if sort_cols:
            w = w.sortWithinPartitions(PP, BUCKET, *sort_cols)
        if CURVE in w.columns:
            w = w.drop(CURVE)
        w.write.partitionBy(PP, KIND, BUCKET).mode("overwrite").parquet(tmp)

        # all directory mutations below go through the Storage seam
        # (FSUtils/HoodieWrapperFileSystem equivalent) so an object-store
        # backend swaps in without touching the write path
        fs = self.table.storage
        moves: list[tuple[str, str, str, str, str]] = []  # (pp, fid, kind, src, dst)
        for pp_dir in fs.listdir(tmp):
            if not pp_dir.startswith(f"{PP}="):
                continue
            pp_enc = pp_dir[len(PP) + 1:]
            pp = urllib.parse.unquote(pp_enc)
            pp = "" if pp == NO_PARTITION else pp
            dst_dir = os.path.join(self.table.base_path, pp) if pp else self.table.base_path
            fs.makedirs(dst_dir)
            for kind_dir in fs.listdir(os.path.join(tmp, pp_dir)):
                kind = kind_dir.split("=", 1)[1]
                kdir = os.path.join(tmp, pp_dir, kind_dir)
                for bucket_dir in fs.listdir(kdir):
                    fid = urllib.parse.unquote(bucket_dir.split("=", 1)[1])
                    parts = [f for f in fs.listdir(os.path.join(kdir, bucket_dir))
                             if f.endswith(".parquet")]
                    assert len(parts) == 1, f"expected 1 file per bucket, got {parts}"
                    src = os.path.join(kdir, bucket_dir, parts[0])
                    if kind == "base":
                        fname = f"{fid}_{WRITE_TOKEN}_{instant}.parquet"
                    else:
                        fname = f"{fid}_{instant}.delta.parquet"
                    moves.append((pp, fid, kind, src, os.path.join(dst_dir, fname)))

        # finalize (rename + footer harvest) is threaded: the per-file driver
        # work is O(files)/16 wall-clock, not a serial commit tail
        from concurrent.futures import ThreadPoolExecutor

        stats_cols = self.table.write_config.stats_columns

        def _finalize(m):
            _pp, _fid, _kind, src_p, dst_p = m
            fs.rename(src_p, dst_p)
            return _footer_stats(dst_p, stats_cols)

        with ThreadPoolExecutor(max_workers=min(16, max(1, len(moves)))) as ex:
            footers = list(ex.map(_finalize, moves))
        placed = [(pp, fid, kind, dst) for pp, fid, kind, _src, dst in moves]
        stats: list[dict] = []
        for (pp, fid, kind, dst), st in zip(placed, footers):
            fname = os.path.basename(dst)
            rec = {
                "partition": pp, "file_id": fid, "file_name": fname,
                "path": os.path.join(pp, fname) if pp else fname,
                "instant": instant, "size": fs.size(dst),
                "num_records": st["num_records"],
                "min_key": st["min_key"], "max_key": st["max_key"],
                "is_delta": kind != "base",
            }
            if st.get("col_stats"):
                rec["col_stats"] = st["col_stats"]
            stats.append(rec)
        fs.rmtree(tmp)
        wc = self.table.write_config
        if wc.bloom_harvest_on_write and wc.index_type in (
                IndexType.BLOOM, IndexType.GLOBAL_BLOOM):
            from . import bloom
            bloom.harvest(self.table, stats, instant)
        if wc.stats_exprs:
            # expression-index equivalent (public Hudi-1.0 design; beyond
            # this reference snapshot): the manifest carries each configured
            # expression's per-file min/max under its alias, so
            # ``skip_filters=[(alias, op, v)]`` prunes files
            found = expr_min_max(
                self.table, [s["path"] for s in stats if not s["is_delta"]],
                wc.stats_exprs)
            for s in stats:
                if s["path"] in found:
                    s.setdefault("col_stats", {}).update(found[s["path"]])
        return stats


def emptied_groups(affected, stats: list[dict]) -> dict[str, list[str]]:
    """partition → file ids of the ``affected`` (partition, file id) groups
    whose rewrite wrote no file. A rewrite that kept no row leaves no new
    slice, so the group is marked replaced, or its old slice would stay
    latest and the deleted rows would come back."""
    written = {(s["partition"], s["file_id"]) for s in stats}
    emptied: dict[str, list[str]] = {}
    for pp, fid in affected:
        if (pp, fid) not in written:
            emptied.setdefault(pp, []).append(fid)
    return emptied


def _json_safe(v) -> bool:
    """A min/max the manifest can hold: a JSON number or string."""
    return isinstance(v, (int, float, str)) and not isinstance(v, bool)


def expr_min_max(table, paths: list[str], exprs: dict[str, str]
                 ) -> dict[str, dict[str, list]]:
    """Per-file min/max of each SQL expression ``{alias: expr}`` over the
    base files at ``paths`` (relative to the table), in one column-pruned
    Spark job; driver data is one row per file. Returns path →
    ``{alias: [min, max]}``, keeping only JSON-safe values.

    Keyed by the partition-qualified relative path, NOT the basename:
    bucket-index tables write identically named base files
    (fid_token_instant.parquet) in several partitions within one commit,
    and a basename key would record one partition's min/max as every
    same-named file's stats (skip_filters could then prune a file that
    does contain matching rows)."""
    if not paths:
        return {}
    from .storage import relpath_from_uri

    base = table.base_path
    df = table.spark.read.parquet(
        *[os.path.join(base, p) for p in paths]).withColumn(
        "__f", F.input_file_name())
    aggs = []
    for alias, expr in exprs.items():
        aggs += [F.min(F.expr(expr)).alias(f"mn_{alias}"),
                 F.max(F.expr(expr)).alias(f"mx_{alias}")]
    out: dict[str, dict[str, list]] = {}
    for r in df.groupBy("__f").agg(*aggs).collect():
        out[relpath_from_uri(r["__f"], base)] = {
            alias: [r[f"mn_{alias}"], r[f"mx_{alias}"]] for alias in exprs
            if _json_safe(r[f"mn_{alias}"])}
    return out


COMMIT_SEQNO_TIEBREAK = "__seqno_tb"


def _footer_stats(path: str, stats_columns: list[str] | None = None) -> dict:
    """Record count + record-key min/max straight from the parquet footer
    (the rebuild's stand-in for Hudi's bloom/range metadata written to
    footers — SparkHoodieBloomIndex.java:119 loads the same stats). With
    ``stats_columns``, also harvests per-column min/max for data skipping
    (column-stats-index equivalent); only JSON-safe numeric/string stats are
    kept."""
    md = pq.ParquetFile(path).metadata
    want = set(stats_columns or [])
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    min_k = max_k = None
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name != RECORD_KEY and name not in want:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            if name == RECORD_KEY:
                min_k = mn if min_k is None else min(min_k, mn)
                max_k = mx if max_k is None else max(max_k, mx)
            elif _json_safe(mn):
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    out = {"num_records": md.num_rows, "min_key": min_k, "max_key": max_k}
    if mins:
        out["col_stats"] = {c: [mins[c], maxs[c]] for c in mins}
    return out
