"""MOR compaction: merge a file slice's delta files into a new base file.

Reference parity: HoodieCompactor.java:48-54 (plan on driver),
HoodieSparkMergeOnReadTableCompactor.java (execute as a Spark job),
SparkScheduleCompactionActionExecutor.java, strategies in
hudi-client-common/.../compact/strategy/ (LogFileSizeBasedCompactionStrategy,
BoundedIOCompactionStrategy, DayBasedCompactionStrategy) and the merged log
scanner HoodieMergedLogRecordScanner.java:55-82.

Spark-first: the plan is a driver-side filter over manifest stats; execution
is ONE DataFrame job that merges per file group, as the reference compacts
one file slice at a time: the base+delta rows of the selected slices are
repartitioned once by (partition, file group), the snapshot reader's fold
(``ReadClient._resolve``) resolves winners at the grain (partition, file
group, record key), which that partitioning already satisfies, and each
group is rewritten (same file_id, new base instant) by the shared write
path, key-sorted by the fold's own sort. Record meta columns (commit time /
seqno) are preserved, so incremental queries stay correct across
compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import timeline as tl
from ..config import OPERATION, RECORD_KEY
from ..writer import BUCKET, PP, emptied_groups


class CompactionStrategy:
    """Which file slices to compact (driver-side plan filter)."""

    @staticmethod
    def num_delta_commits(table, slices, threshold=None):
        """Compact slices with >= N delta files (inline-compaction trigger,
        HoodieCompactionConfig inline.compact.num.delta.commits)."""
        n = threshold or table.write_config.max_delta_commits_before_compaction
        return [sl for sl in slices if len(sl.log_files_as_of(None)) >= n]

    @staticmethod
    def log_size(table, slices, threshold_bytes=16 * 1024 * 1024):
        """LogFileSizeBasedCompactionStrategy.java."""
        return [sl for sl in slices
                if sum(lf.size for lf in sl.log_files_as_of(None)) >= threshold_bytes]

    @staticmethod
    def all_with_logs(table, slices):
        """UnBoundedCompactionStrategy.java."""
        return [sl for sl in slices if sl.log_files_as_of(None)]

    @staticmethod
    def day_based(table, slices, partitions_to_compact=1):
        """DayBasedCompactionStrategy.java — compact only the N most recent
        partitions (partition paths sort as dates in the reference layout)."""
        with_logs = [sl for sl in slices if sl.log_files_as_of(None)]
        latest = sorted({sl.partition for sl in with_logs}, reverse=True)
        keep = set(latest[:partitions_to_compact])
        return [sl for sl in with_logs if sl.partition in keep]

    @staticmethod
    def bounded_io(table, slices, max_io_bytes=500 * 1024 * 1024):
        """BoundedIOCompactionStrategy.java — greedy-select slices by
        estimated IO (read base + read logs + write new base) within a
        budget, biggest log backlog first."""
        with_logs = sorted((sl for sl in slices if sl.log_files_as_of(None)),
                           key=lambda sl: sum(lf.size for lf in sl.log_files_as_of(None)),
                           reverse=True)
        out, spent = [], 0
        for sl in with_logs:
            base = sl.base_file.size if sl.base_file else 0
            logs = sum(lf.size for lf in sl.log_files_as_of(None))
            io = 2 * base + logs  # read base + logs, rewrite ~base-sized file
            if out and spent + io > max_io_bytes:
                continue
            out.append(sl)
            spent += io
        return out


def schedule_compaction(table, strategy=None, **kw) -> list:
    """Returns the slices the strategy selects (the compaction plan)."""
    slices = table.view().latest_slices()
    strategy = strategy or CompactionStrategy.all_with_logs
    return strategy(table, slices, **kw)


def compact(table, strategy=None, **kw):
    """Plan + execute. Returns the commit instant or None if nothing to do.
    Plans inside the writer's transaction (see
    :meth:`~hoodie_spark.writer.WriteClient.transaction`)."""
    writer = table._writer
    with writer.transaction(tl.COMMIT) as instant:
        plan = schedule_compaction(table, strategy, **kw)
        if not plan:
            return None
        view = table.view()
        base = table.read_slices_base(plan).withColumn(OPERATION, F.lit("I"))
        delta_paths = [view.abs(lf.path) for sl in plan
                       for lf in sl.log_files_as_of(None)]
        rows = writer._finalize_cols(writer._keep_file_group(
            base.unionByName(table.read_delta_files(delta_paths)), instant), "base")
        merged = table._reader._resolve(rows.repartition(PP, BUCKET),
                                        grain=(PP, BUCKET)).drop(OPERATION)
        stats = writer._write_files(merged, instant, already_partitioned=True,
                                    sort_cols=[RECORD_KEY])
        # a slice whose deltas deleted every row compacts to nothing
        emptied = emptied_groups([(sl.partition, sl.file_id) for sl in plan],
                                 stats)
        return writer._commit(instant, tl.COMMIT, "compact", stats,
                              replaced=emptied or None).instant


def logcompact(table, min_log_files: int = 3, partitions=None):
    """Minor (log) compaction — public Hudi-1.0 design; this reference
    snapshot ships only full compaction. Consolidates a slice's many small
    delta files into ONE merged delta WITHOUT rewriting the base file: the
    cure for MOR read amplification when bases are large and updates are
    frequent (full compaction would rewrite gigabytes to absorb kilobytes).

    Rows are concatenated verbatim (original commit-time/seqno meta
    preserved, no pre-resolution), so snapshot/incremental/CDC semantics
    are untouched for every payload type — the read-side fold still picks
    winners. The originals stay on disk for time travel; reads as-of after
    this instant skip them via the manifest (``LogFile.compacted_at``).

    Returns the logcompaction instant, or None if no slice qualifies.
    Plans inside the writer's transaction, like :func:`compact`.
    """
    writer = table._writer
    with writer.transaction(tl.LOGCOMPACTION) as instant:
        view = table.view()
        plan = [sl for sl in view.latest_slices(partitions=partitions)
                if sl.base_file is not None
                and len(sl.log_files_as_of(None)) >= min_log_files]
        if not plan:
            return None
        targets = {(sl.partition, sl.file_id): sl for sl in plan}
        delta_paths = [view.abs(lf.path) for sl in plan
                       for lf in sl.log_files_as_of(None)]
        deltas = table.read_delta_files(delta_paths)
        write_df = writer._finalize_cols(
            writer._keep_file_group(deltas, instant, delta=True), "delta")
        stats = writer._write_files(write_df, instant, sort_cols=None)
        for s in stats:
            sl = targets.get((s["partition"], s["file_id"]))
            s["base_instant"] = sl.base_instant if sl else instant
        compacted = [lf.path for sl in plan for lf in sl.log_files_as_of(None)]
        return writer._commit(
            instant, tl.LOGCOMPACTION, "logcompact", stats,
            extra={"compacted_log_files": compacted}).instant
