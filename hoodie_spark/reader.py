"""Query operators: snapshot / read-optimized / incremental / time-travel.

Reference parity: DefaultSource.scala:111-135 dispatch on (tableType,
queryType); COW snapshot = HadoopFsRelation over latest base files
(DefaultSource.scala:190); MOR snapshot = MergeOnReadSnapshotRelation.scala /
HoodieMergeOnReadRDD.scala:72-76 (payload-combine of base + log records);
incremental = IncrementalRelation.scala:47-178 (commit-range file list +
``_hoodie_commit_time`` filter); as-of = END_INSTANTTIME-bounded
(DataSourceOptions.scala:94).

Spark-first: every read returns a plain DataFrame over an explicit pruned
file list from the manifest fold, with the table schema supplied up front —
so Catalyst gets predicate pushdown, column pruning and partition pruning
for free, and the MOR merge is a unionByName + one window (shuffle by key)
instead of a per-slice spillable hash map."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import timeline as tl
from .config import (COMMIT_TIME, OPERATION, PARTITION_PATH, RECORD_KEY,
                     IndexType, TableType)
from .frames import local_frame
from .keygen import record_key_expr


def prune_by_stats(slices, skip_filters: list[tuple], mor: bool) -> list:
    """Data skipping: drop file slices whose manifest column stats prove no
    row can match (column-stats-index equivalent; complements Hudi's
    HoodieFileIndex partition pruning with file-level pruning).

    ``skip_filters`` is a conjunctive list of ``(column, op, value)`` /
    ``(column, 'between', lo, hi)`` with op in =, <, <=, >, >=. Pruning is
    conservative: a slice survives unless its [min, max] disproves the
    filter; missing stats keep the slice. The caller still applies the real
    filter — this only shrinks the file list (and therefore the scan) on
    the driver. MOR slices carrying log files are never pruned (a delta row
    may match even when the base range doesn't)."""
    def disproved(bf, f) -> bool:
        if bf is None or not bf.col_stats or f[0] not in bf.col_stats:
            return False
        lo, hi = bf.col_stats[f[0]]
        if lo is None or hi is None:
            return False
        op = f[1]
        if op == "=":
            return f[2] < lo or f[2] > hi
        if op == "<":
            return lo >= f[2]
        if op == "<=":
            return lo > f[2]
        if op == ">":
            return hi <= f[2]
        if op == ">=":
            return hi < f[2]
        if op == "between":
            return hi < f[2] or lo > f[3]
        raise ValueError(f"unsupported skip op {op!r}")

    out = []
    for sl in slices:
        if mor and sl.log_files:
            out.append(sl)
            continue
        if any(disproved(sl.base_file, f) for f in skip_filters):
            continue
        out.append(sl)
    return out


class ReadClient:
    def __init__(self, table):
        self.table = table
        self.spark = table.spark

    def _check_readable(self, as_of: str | None) -> None:
        """Fail LOUDLY when a time-travel point predates the cleaner's
        retention horizon: the file versions serving that snapshot were
        physically deleted, so silently returning whatever is left (often 0
        rows) would be a wrong result, not an answer. Savepointed instants
        stay readable — their files are pinned against cleaning (the same
        carve-out CleanPlanner.java:68 makes). Driver-only, O(cleans)."""
        if as_of is None:
            return
        horizon = None
        for i in self.table.timeline.completed((tl.CLEAN,)):
            er = self.table.timeline.metadata(i).get("earliest_retained")
            if er and (horizon is None or er > horizon):
                horizon = er
        if horizon is None or as_of >= horizon:
            return
        from .services.rollback import savepointed_instants
        if as_of in savepointed_instants(self.table):
            return
        raise ValueError(
            f"snapshot as of {as_of} is not readable: the cleaner retained "
            f"file versions only back to {horizon} "
            f"(cleaner_commits_retained). Savepoint instants you need to "
            f"time-travel to, or raise the retention.")

    # ------------------------------------------------------------- snapshot
    def snapshot(self, as_of: str | None = None,
                 partitions: list[str] | None = None,
                 skip_filters: list[tuple] | None = None) -> DataFrame:
        """Latest committed state (optionally time-travelled / partition-
        pruned / stats-pruned — see :func:`prune_by_stats`)."""
        self._check_readable(as_of)
        view = self.table.view()
        slices = view.latest_slices(as_of=as_of, partitions=partitions)
        is_mor = self.table.config.table_type == TableType.MERGE_ON_READ
        if skip_filters:
            slices = prune_by_stats(slices, skip_filters, mor=is_mor)
        return self._assemble(view, slices, as_of)

    def _assemble(self, view, slices, as_of: str | None) -> DataFrame:
        if self.table.config.table_type == TableType.MERGE_ON_READ:
            return self._merge_on_read(view, slices, as_of)
        return self.table.read_slices_base(slices)

    def read_optimized(self, as_of: str | None = None,
                       partitions: list[str] | None = None,
                       skip_filters: list[tuple] | None = None) -> DataFrame:
        """MOR read-optimized view — base files only (DefaultSource.scala:
        119-124); identical to snapshot for COW."""
        self._check_readable(as_of)
        view = self.table.view()
        slices = view.latest_slices(as_of=as_of, partitions=partitions)
        if skip_filters:
            slices = prune_by_stats(slices, skip_filters, mor=False)
        return self.table.read_slices_base(slices)

    def _merge_on_read(self, view, slices, as_of: str | None) -> DataFrame:
        """MOR snapshot assembly. Slices WITHOUT pending deltas ("clean")
        are emitted as a direct base scan — no Exchange, no window; only
        dirty slices pay the union + shuffle-by-key resolve. At scale a
        table with 1% dirty slices shuffles 1% of its rows, not 100%
        (parity: HoodieMergeOnReadRDD.scala:72-76 merges per-slice, so the
        reference never shuffles clean file groups either)."""
        dirty = [sl for sl in slices if sl.log_files_as_of(as_of)]
        if not dirty:
            return self.table.read_slices_base(slices)
        clean = [sl for sl in slices if not sl.log_files_as_of(as_of)]
        base = self.table.read_slices_base(dirty)
        delta_paths = [view.abs(lf.path) for sl in dirty
                       for lf in sl.log_files_as_of(as_of)]
        deltas = self.table.read_delta_files(delta_paths)
        merged = base.withColumn(OPERATION, F.lit("I")).unionByName(deltas)
        resolved = self._resolve(merged).drop(OPERATION)
        if not clean:
            return resolved
        return self.table.read_slices_base(clean).unionByName(resolved)

    def _resolve(self, df: DataFrame,
                 grain: tuple[str, ...] = (PARTITION_PATH,)) -> DataFrame:
        """Equivalent of the log-scanner fold (HoodieMergedLogRecordScanner
        .java:55-82): delete blocks clear the key, records committed AFTER
        the latest delete re-add it, and among surviving records the payload
        picks the max ordering value (ties: latest commit). Expressed as two
        windows keyed (``grain``, record key) instead of a per-slice
        spillable map; both share one sort. The snapshot reader resolves
        per (partition, key); compaction passes (partition, file group) as
        the grain, so the windows reuse its partitioning by file group. The
        two differ only for a key stored in two file groups that both have
        deltas: the snapshot folds the copies into one row, compaction
        keeps one per group."""
        pre = self.table.config.precombine_field
        ordc = F.col(pre) if pre and pre in df.columns else F.lit(0)
        wk = Window.partitionBy(*grain, RECORD_KEY).orderBy(
            F.desc_nulls_last("__ord"), F.desc(COMMIT_TIME))
        last_del = F.max(F.when(F.col(OPERATION) == "D", F.col(COMMIT_TIME))).over(
            wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        return (df.withColumn("__ord", ordc)
                .withColumn("__last_del", last_del)
                .filter((F.col(OPERATION) != "D") &
                        (F.col("__last_del").isNull() |
                         (F.col(COMMIT_TIME) > F.col("__last_del"))))
                .withColumn("__rn", F.row_number().over(wk))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__ord", "__last_del"))

    # ----------------------------------------------------------- incremental
    def incremental(self, begin: str | None = None, end: str | None = None,
                    skip_filters: list[tuple] | None = None) -> DataFrame:
        """Rows whose CURRENT value was committed in (begin, end]
        (IncrementalRelation.scala:98-116). begin=None reads from the start
        (first commit inclusive); end=None means the latest instant.
        ``skip_filters`` prunes touched files by manifest column stats
        (PUSH_DOWN_INCR_FILTERS_OPT_KEY equivalent, driver-side)."""
        begin = begin or ""
        instants = [i for i in self.table.timeline.completed(tl.DATA_ACTIONS)
                    if i.timestamp > begin and (end is None or i.timestamp <= end)]
        if not instants:
            return self.table.empty_df()
        end_ts = instants[-1].timestamp
        if end is not None:
            # a bounded incremental reads slices as-of end_ts; past the
            # cleaner horizon those versions are gone (unbounded reads the
            # live latest slices, always retained)
            self._check_readable(end_ts)
        touched: set[tuple[str, str]] = set()
        for inst in instants:
            md = self.table.timeline.metadata(inst)
            for st in md.get("write_stats", []):
                touched.add((st["partition"], st["file_id"]))
        view = self.table.view()
        slices = view.slices_for_groups(touched, as_of=end_ts)
        if skip_filters:
            slices = prune_by_stats(
                slices, skip_filters,
                mor=self.table.config.table_type == TableType.MERGE_ON_READ)
        if self.table.config.table_type == TableType.MERGE_ON_READ:
            df = self._merge_on_read_incremental(view, slices, end_ts)
        else:
            df = self.table.read_slices_base(slices)
        return df.filter((F.col(COMMIT_TIME) > begin) & (F.col(COMMIT_TIME) <= end_ts))

    def incremental_cdc(self, begin: str | None = None,
                        end: str | None = None) -> DataFrame:
        """CDC-format incremental query: one change event per (commit, key)
        — ``op`` 'i'/'u'/'d', commit ``ts``, ``before``/``after`` row images
        — inferred per commit by diffing each touched file group's slice
        against its previous version (the "infer from data files" mode of
        Hudi's CDC RFC-51; this reference snapshot predates the cdc query
        type, so the surface extends it).

        Scale shape: each commit reads only its touched file groups, twice
        (pre- and post-image version) — never a full-table diff — and the
        join is keyed on (partition, record key) within those groups.
        Requires the cleaner to still retain the pre-image slice versions
        (the same retention constraint real CDC reads have)."""
        begin = begin or ""
        timeline = self.table.timeline
        all_insts = timeline.completed(tl.DATA_ACTIONS)
        insts = [i for i in all_insts
                 if i.timestamp > begin and (end is None or i.timestamp <= end)]
        if insts:
            # the oldest pre-image this read diffs against is the slice
            # state just before the first in-range commit; if the cleaner
            # removed those versions the diff would silently mislabel every
            # carried-over row as an insert — same loud-failure contract as
            # time travel
            oldest_pre = max((i.timestamp for i in all_insts
                              if i.timestamp < insts[0].timestamp),
                             default=None)
            self._check_readable(oldest_pre)
        data_cols = [c for c in self.table.empty_df().columns
                     if not c.startswith("_hoodie")]
        key_cols = [PARTITION_PATH, RECORD_KEY]
        img = lambda cols: F.struct(*[F.col(c) for c in cols])  # noqa: E731
        empty_events = local_frame(
            self.spark, [], self.table.empty_df()
            .select(F.lit("i").alias("op"), F.lit("").alias("ts"),
                    *key_cols, img(data_cols).alias("before"),
                    img(data_cols).alias("after")).schema)
        view = self.table.view()
        chunks = []
        for inst in insts:
            md = timeline.metadata(inst)
            touched = {(st["partition"], st["file_id"])
                       for st in md.get("write_stats", [])}
            for pp, fids in md.get("replaced", {}).items():
                touched |= {(pp, fid) for fid in fids}
            prev_ts = max((i.timestamp for i in all_insts
                           if i.timestamp < inst.timestamp), default=None)
            new_df = self._assemble(
                view, view.slices_for_groups(touched, as_of=inst.timestamp),
                inst.timestamp)
            old_df = (self._assemble(
                view, view.slices_for_groups(touched, as_of=prev_ts), prev_ts)
                if prev_ts is not None else self.table.empty_df())
            n = new_df.select(*key_cols,
                              F.col(COMMIT_TIME).alias("__new_ct"),
                              img(data_cols).alias("after"))
            o = old_df.select(*key_cols, img(data_cols).alias("before"))
            j = n.join(o, key_cols, "full_outer")
            chunks.append(
                j.filter(F.col("after").isNull() |  # deletes
                         # rewritten in THIS commit (carried-over rows keep
                         # their original commit time and emit no event)
                         (F.col("__new_ct") == inst.timestamp))
                .select(
                    F.when(F.col("before").isNull(), F.lit("i"))
                    .when(F.col("after").isNull(), F.lit("d"))
                    .otherwise(F.lit("u")).alias("op"),
                    F.lit(inst.timestamp).alias("ts"),
                    *key_cols, "before", "after"))
        if not chunks:
            return empty_events
        out = chunks[0]
        for c in chunks[1:]:
            out = out.unionByName(c)
        return out

    def _merge_on_read_incremental(self, view, slices, end_ts: str) -> DataFrame:
        # same clean/dirty split as snapshot (the incremental file list is
        # already restricted to touched groups, but a touched group whose
        # deltas were all compacted away is clean again)
        return self._merge_on_read(view, slices, end_ts)

    # ------------------------------------------------------------ key lookup
    def _key_candidate_slices(self, keyed: DataFrame, view,
                              as_of: str | None) -> list:
        """Prune the live slice list to files that may contain any incoming
        key — the reference's read path is an index lookup
        (HoodieReadClient.java:138-186), never a table scan.

        Three pruning tiers, cheapest-first:
        1. record index (exact key → file-group map) when enabled — the
           candidate set is exactly the groups holding the keys;
        2. manifest per-file [min_key, max_key] interval overlap with the
           incoming key range (IntervalTreeBasedIndexFileFilter);
        3. bloom key sketches when the table writes them (BLOOM index).
        MOR slices carrying log files are never pruned by base-file stats —
        a delta row may hold the key even when the base range doesn't."""
        is_mor = self.table.config.table_type == TableType.MERGE_ON_READ
        if self.table.write_config.record_index and as_of is None:
            from . import record_index
            if record_index.exists(self.table):
                loc = record_index.lookup(self.table, view)
                groups = {(r[0], r[1]) for r in
                          loc.join(F.broadcast(keyed), RECORD_KEY, "left_semi")
                          .select(PARTITION_PATH, "file_id")
                          .distinct().collect()}
                return view.slices_for_groups(groups)

        slices = view.latest_slices(as_of=as_of)
        lo, hi = keyed.agg(F.min(RECORD_KEY), F.max(RECORD_KEY)).collect()[0]
        pruned, sketchable = [], []
        for sl in slices:
            bf = sl.base_file
            if is_mor and sl.log_files:
                pruned.append(sl)
                continue
            if bf is None or bf.min_key is None or bf.max_key is None \
                    or lo is None:
                pruned.append(sl)
                continue
            if bf.max_key >= lo and bf.min_key <= hi:
                sketchable.append(sl)
        if sketchable and self.table.write_config.index_type in (
                IndexType.BLOOM, IndexType.GLOBAL_BLOOM):
            from . import bloom
            sketchable = bloom.prune(
                self.spark, keyed.withColumn(PARTITION_PATH, F.lit(None)
                                             .cast("string")),
                sketchable, True, self.table)
        return pruned + sketchable

    def read_keys(self, keys_df: DataFrame, as_of: str | None = None) -> DataFrame:
        """HoodieReadClient.readROView:138 — rows for a set of keys; keys_df
        carries the natural key columns. The scan is pruned to candidate
        files via the record index / key ranges / bloom sketches (see
        :meth:`_key_candidate_slices`) before the semi join."""
        self._check_readable(as_of)
        keyed = keys_df.select(
            record_key_expr(self.table.config).alias(RECORD_KEY)).distinct()
        view = self.table.view()
        slices = self._key_candidate_slices(keyed, view, as_of)
        return self._assemble(view, slices, as_of).join(
            F.broadcast(keyed), RECORD_KEY, "left_semi")

    def read_by_column(self, column: str, values: list,
                       as_of: str | None = None) -> DataFrame:
        """Point/in-list lookup on a NON-key column. With a secondary index
        (:mod:`hoodie_spark.secondary_index`) the scan prunes to exactly
        the file groups that ever contained a requested value; otherwise it
        falls back to the column-stats-pruned snapshot. Either way the real
        predicate is re-applied, so index staleness can only cost I/O,
        never correctness. Time-travel (``as_of``) always takes the
        snapshot fallback: the index only maps LIVE file groups."""
        from . import secondary_index

        vals = list(values)
        if as_of is not None:
            return self.snapshot(as_of=as_of).filter(
                F.col(column).isin(vals))
        view = self.table.view()
        # typed as the column, which is the type the index stores
        values_df = local_frame(self.spark, [(v,) for v in vals], T.StructType(
            [T.StructField("value", self.table.schema[column].dataType)]))
        groups = secondary_index.lookup_groups(self.table, column,
                                               values_df, view=view)
        if groups is None:
            if len(vals) == 1:
                return self.snapshot(
                    skip_filters=[(column, "=", vals[0])]).filter(
                        F.col(column) == vals[0])
            return self.snapshot().filter(F.col(column).isin(vals))
        slices = view.slices_for_groups(groups)
        df = self._assemble(view, slices, None)
        return df.filter(F.col(column).isin(vals))

    def exists(self, keys_df: DataFrame) -> DataFrame:
        """HoodieReadClient.checkExists:172 — same pruned plan as
        :meth:`read_keys`, projecting only the key column."""
        keyed = keys_df.select(
            record_key_expr(self.table.config).alias(RECORD_KEY))
        view = self.table.view()
        slices = self._key_candidate_slices(keyed.distinct(), view, None)
        present = self._assemble(view, slices, None).select(RECORD_KEY)
        return keyed.join(present, RECORD_KEY, "left_semi")
