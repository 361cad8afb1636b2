"""Repairs: surgical fixes for tables damaged by writer bugs.

Reference parity: hudi-cli RepairsCommand.java (``repair deduplicate``) and
its Spark job DedupeSparkJob.scala — a partition that accumulated duplicate
record keys (e.g. a non-global index miss after a partition-value change,
or a pre-heartbeat failed write that published twice) is rewritten keeping
exactly one row per key.

Spark-first shape: the duplicate scan and the winner selection are one
windowed DataFrame job over the affected partition only — never the whole
table — and the rewrite reuses insert_overwrite, so the fix is itself an
atomic replacecommit with full rollback/time-travel semantics.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..config import COMMIT_SEQNO, COMMIT_TIME, META_COLUMNS, RECORD_KEY


def find_duplicates(table, partition: str):
    """Record keys appearing more than once in the partition's snapshot.
    Returns a DataFrame(_hoodie_record_key, dup_count) — driver collects
    nothing; callers decide."""
    snap = table.snapshot(partitions=[partition])
    return (snap.groupBy(RECORD_KEY)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def repair_deduplicate(table, partition: str, dry_run: bool = False):
    """Rewrite ``partition`` keeping, per duplicated key, the row with the
    greatest (precombine, commit time) — the same winner an upsert would
    have produced. Non-duplicated rows pass through untouched. Returns the
    replacecommit instant, or None when the partition is already clean (or
    on dry_run, the duplicate count)."""
    n_dups = find_duplicates(table, partition).count()
    if dry_run or n_dups == 0:
        return n_dups if dry_run else None
    snap = table.snapshot(partitions=[partition])
    # seqno last: a unique per-row tiebreak so equal (precombine, commit)
    # duplicates repair identically on every run
    order = [F.col(COMMIT_TIME).desc(), F.col(COMMIT_SEQNO).desc()]
    pre = table.config.precombine_field
    if pre:
        order.insert(0, F.col(pre).desc())
    w = Window.partitionBy(RECORD_KEY).orderBy(*order)
    fixed = (snap.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1)
             .drop("__rn", *META_COLUMNS))
    res = table.insert_overwrite(fixed)
    return res.instant


def find_orphan_files(table, max_age_s: float = 3600) -> list[str]:
    """Data files on disk that NO commit (active or archived) has ever
    referenced — left by writers that died before their first commit
    metadata existed, by partially-rolled-back instants, or by manual
    copies. Reference parity: hudi-cli RepairsCommand ``repair
    addpartitionmeta`` / cleaner orphan handling.

    Safety: a file is only an orphan if (a) its relative path appears in
    no timeline metadata, (b) its embedded instant suffix matches no
    PENDING instant (an in-flight writer's output is invisible to the
    timeline until commit), and (c) it is older than ``max_age_s`` —
    covering the window where a writer has produced files but not yet the
    requested instant. Readers never see orphans (manifest-based
    visibility), so this is purely a storage-cost repair."""
    import os
    import time

    from .. import storage

    tl_ = table.timeline
    referenced: set[str] = set()
    # Active completed instants FIRST, archive file SECOND. Archival moves
    # an instant active-dir -> archive; with this order a concurrently
    # migrating instant is visible in at least one of the two passes (it
    # was still active when we listed, or already archived when we read the
    # archive). The reverse order has a window where it appears in neither
    # and its live data files would be misclassified as orphans. This
    # depends on Timeline.archive() publishing the archive chunk BEFORE
    # deleting the active files (timeline.py) — delete-before-durable-
    # publish would reopen the window.
    for inst in tl_.completed(include_archived=False):
        try:
            md = tl_.metadata(inst)
        except FileNotFoundError:
            continue
        for st in md.get("write_stats", []):
            referenced.add(st["path"])
    # archived metadata in ONE pass (Timeline.metadata would rescan the
    # archive once per archived instant — quadratic); archived_records is
    # torn-tail tolerant for the legacy append-file era
    for rec in tl_.archived_records():
        for st in rec.get("metadata", {}).get("write_stats", []):
            referenced.add(st["path"])
    pending_ts = {i.timestamp for i in tl_.pending()}
    now = time.time()
    orphans: list[str] = []
    for rel in table.storage.walk(table.base_path, ".hoodie"):
        if not rel.endswith(".parquet") or rel in referenced:
            continue
        # fileId_token_instant[.delta].parquet → instant timestamp
        stem = os.path.basename(rel).rsplit("_", 1)[-1].split(".", 1)[0]
        if stem in pending_ts:
            continue
        try:
            mt = storage.ATOMIC.mtime(os.path.join(table.base_path, rel))
        except NotImplementedError:
            mt = None  # no mtime on this store: age unknown, never an orphan
        if mt is not None and now - mt >= max_age_s:
            orphans.append(rel)
    return orphans


def repair_orphan_files(table, dry_run: bool = True,
                        max_age_s: float = 3600) -> list[str]:
    """Delete (or with ``dry_run``, just list) never-referenced data
    files. Returns the affected relative paths."""
    import os

    orphans = find_orphan_files(table, max_age_s=max_age_s)
    if dry_run:
        return orphans
    for rel in orphans:
        try:
            table.storage.remove(os.path.join(table.base_path, rel))
        except OSError:
            pass  # raced with a concurrent repair
    return orphans
