"""Record-level index: a persisted record_key → (partition, file_id) map.

Reference parity: the metadata-table record index (key → location) that
replaces scanning data files for tagging. Without it, every upsert reads
the record-key column of all files in the affected partitions; with it,
tagging joins the incoming batch against a compact 3-column parquet index —
at 100 TB that is the difference between scanning terabytes and scanning
the index (gigabytes, dictionary-encoded keys).

Layout: ``<base>/.hoodie/record_index/bucket=<n>/<instant>[-<seq>].parquet``
— append-only per commit, hash-bucketed by key so point lookups read one
bucket. Entries carry (key, partition, file_id, op A/R, instant); the
lookup folds them latest-wins and drops 'R' (removed) entries.

Consistency model (why stale entries are safe):
  * rewrites (COW merge, compaction) KEEP the file_id — entries stay valid;
  * an entry pointing at a replaced file group (clustering, overwrite,
    full-group delete) is filtered by the live-group set at lookup, so the
    key degrades to "insert" — correct, because replacement either rewrote
    the key elsewhere (newer entry wins) or dropped it;
  * a deleted key gets an 'R' entry from the delete batch itself;
  * duplicate 'A' entries are harmless (latest instant wins).

The index is opt-in (``WriteConfig.record_index``). Turning the flag on is
gated by an init marker: :func:`ensure_initialized` backfills the index from
ALL live file slices the first time (keys in file groups the first
post-enable write doesn't touch would otherwise be missing, get re-tagged
as inserts, and duplicate their still-live rows — the reference bootstraps
the record index from existing files for the same reason), then writes the
marker; only a marker-bearing index is consulted for tagging.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import COMMIT_TIME, FILE_NAME, PARTITION_PATH, RECORD_KEY
from .frames import local_frame

INDEX_SCHEMA = (f"{RECORD_KEY} string, {PARTITION_PATH} string, "
                "file_id string, op string, instant string")

LOOKUP_SCHEMA = (f"{RECORD_KEY} string, {PARTITION_PATH} string, "
                 "file_id string, instant string")


def index_dir(table) -> str:
    return os.path.join(table.base_path, ".hoodie", "record_index")


def _marker_path(table) -> str:
    # lives NEXT TO the index dir (not inside it): compaction supersedes
    # generations under the dir and must not touch the init marker
    return index_dir(table) + ".init"


def _gen_path(table) -> str:
    return index_dir(table) + ".gen"


def _live_dir(table) -> str:
    """The generation the pointer names, or the flat legacy dir when no
    pointer exists yet (fresh tables append flat until the first compact
    migrates them — same object-store-safe design as the dedup state:
    write-once generations + an atomic pointer publish, no renames)."""
    raw = table.storage.read_bytes(_gen_path(table))
    if raw is None:
        return index_dir(table)
    return os.path.join(index_dir(table), f"gen-{int(raw):06d}")


def exists(table) -> bool:
    """True once the index is initialized (marker present). Entry files
    alone are not enough: a pre-existing table that enables the flag gets
    entries for touched file groups only until the backfill has run."""
    return table.storage.exists(_marker_path(table))


def _bucket_dirs(table) -> list[str]:
    d = _live_dir(table)
    fs = table.storage
    return [os.path.join(d, e) for e in fs.listdir(d)
            if e.startswith("bucket=")]


def _has_entry_files(table) -> bool:
    fs = table.storage
    return any(any(f.endswith(".parquet") for f in fs.listdir(b))
               for b in _bucket_dirs(table))


def _read_entries(table):
    """Schema-pinned read of the live generation's bucket dirs, listed
    EXPLICITLY (basePath keeps the partition column) so a crashed
    migration's orphan gen dir inside a legacy flat layout can never
    break partition discovery."""
    buckets = _bucket_dirs(table)
    if not buckets:
        return None
    return (table.spark.read.schema(INDEX_SCHEMA + ", bucket int")
            .option("basePath", _live_dir(table)).parquet(*buckets))


def ensure_initialized(table, view=None) -> None:
    """Backfill the index from all live base slices and write the init
    marker (idempotent, lock-guarded). On an empty table this is just the
    marker write; on a pre-existing table it reads the (key, partition,
    file_name) projection of every live base file once — the same cost as
    one full-table upsert tagging scan, paid once.

    MUST NOT be called while holding the table lock (takes it itself)."""
    marker = _marker_path(table)
    fs = table.storage
    if fs.exists(marker):
        return
    from .timeline import LockProvider

    with LockProvider(table.base_path, table.write_config.lock_timeout_s,
                      table.write_config.lock_expiry_s):
        if fs.exists(marker):
            return
        view = view or table.view()
        slices = [sl for sl in view.latest_slices() if sl.base_file is not None]
        if slices:
            entries = (table.read_slices_base(slices)
                       .select(F.col(RECORD_KEY), F.col(PARTITION_PATH),
                               F.split(F.col(FILE_NAME), "_").getItem(0)
                                .alias("file_id"),
                               F.lit("A").alias("op"),
                               # index under the commit that wrote each file,
                               # so future appends order correctly against it
                               F.col(COMMIT_TIME).alias("instant")))
            _write(table, entries, "backfill")
        from . import storage

        fs.makedirs(os.path.dirname(marker))
        storage.ATOMIC.put_atomic(marker, b"initialized")


def entries_from_written_files(table, stats: list[dict], instant: str):
    """Index entries ('A' rows) for every key in the commit's new BASE
    files, read back from storage — ground truth, so the index can never
    drift from the data. Returns a DataFrame (or None when the commit wrote
    no base files); the caller decides when to append it (the write path
    materializes it BEFORE taking the table lock so only the parquet append
    holds the lock)."""
    from .fsview import BaseFile, FileSlice

    base_stats = [s for s in stats if not s.get("is_delta")]
    if not base_stats:
        return None
    slices = [FileSlice(s["partition"], s["file_id"], instant,
                        BaseFile(s["path"], s["file_name"], s.get("size", 0),
                                 bootstrap=s.get("bootstrap", False)))
              for s in base_stats]
    return (table.read_slices_base(slices)
            .select(F.col(RECORD_KEY), F.col(PARTITION_PATH),
                    F.split(F.col(FILE_NAME), "_").getItem(0).alias("file_id"),
                    F.lit("A").alias("op"), F.lit(instant).alias("instant")))


def append_entries(table, entries: DataFrame) -> None:
    """Append precomputed entries (see :func:`entries_from_written_files`).
    Rewritten groups re-append their keys; lookup dedups latest-wins."""
    _write(table, entries, "precomputed")


def append_removals(table, keys_df: DataFrame, instant: str) -> None:
    """Register 'R' entries for a delete batch (keys_df carries RECORD_KEY
    and PARTITION_PATH — partition may be null for global deletes)."""
    entries = keys_df.select(
        F.col(RECORD_KEY), F.col(PARTITION_PATH),
        F.lit(None).cast("string").alias("file_id"),
        F.lit("R").alias("op"), F.lit(instant).alias("instant"))
    _write(table, entries, instant)


def _write(table, entries: DataFrame, instant: str) -> None:
    n_buckets = table.write_config.record_index_buckets
    out = entries.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(RECORD_KEY)), F.lit(n_buckets)))
    # one file per bucket per write; append mode keeps history
    (out.repartition(F.col("bucket"))
        .write.partitionBy("bucket").mode("append").parquet(_live_dir(table)))


def compact(table, retain_commits: int | None = None) -> int:
    """Fold the append-only index buckets into one file per bucket.

    Entries from the last ``retain_commits`` data commits (default: the
    cleaner retention) are kept RAW: a future rollback/restore can still
    exclude them by instant. Older entries fold latest-wins — safe because
    restore past the clean horizon is impossible anyway (the data files are
    gone). Returns the number of entries in the folded portion.

    Object-store-safe: the fold lands in the NEXT write-once generation
    and one atomic pointer publish supersedes the old one — no directory
    rename (same design as the dedup state); superseded generations and
    legacy flat bucket dirs are swept best-effort after the swap.
    """
    from . import storage
    from . import timeline as tl
    from .timeline import LockProvider

    spark = table.spark
    retain = retain_commits if retain_commits is not None \
        else table.write_config.cleaner_commits_retained
    commits = table.timeline.completed(tl.DATA_ACTIONS)
    if len(commits) <= retain:
        return 0
    horizon = commits[-retain].timestamp
    d = index_dir(table)

    # the lock covers read → fold → write → swap: a writer appending between
    # an unguarded read and the swap would have its entries silently
    # discarded by the overwrite (reverting those keys' locations)
    with LockProvider(table.base_path, table.write_config.lock_timeout_s,
                      table.write_config.lock_expiry_s):
        df = _read_entries(table)
        if df is None:
            return 0

        rolled_back = table.timeline.rolled_back()
        if rolled_back:
            df = df.filter(~F.col("instant").isin(*sorted(rolled_back)))

        old = df.filter(F.col("instant") < horizon)
        recent = df.filter(F.col("instant") >= horizon)
        w = Window.partitionBy(RECORD_KEY, PARTITION_PATH).orderBy(
            F.desc("instant"), F.desc("op"))
        folded = (old.withColumn("__rn", F.row_number().over(w))
                  .filter((F.col("__rn") == 1) & (F.col("op") == "A"))
                  .drop("__rn"))
        out = folded.unionByName(recent)

        raw = table.storage.read_bytes(_gen_path(table))
        new_g = 0 if raw is None else int(raw) + 1
        dst = os.path.join(d, f"gen-{new_g:06d}")
        # overwrite: a crashed prior compact may have left a partial copy
        # at this generation (its pointer publish never ran)
        (out.repartition(F.col("bucket"))
            .write.partitionBy("bucket").mode("overwrite").parquet(dst))
        n = folded.count()
        storage.ATOMIC.put_atomic(_gen_path(table), str(new_g).encode())
        fsb = table.storage
        keep = f"gen-{new_g:06d}"
        for e in fsb.listdir(d):
            if e == keep:
                continue
            p = os.path.join(d, e)
            fsb.rmtree(p)
            if fsb.exists(p):  # flat legacy file (_SUCCESS etc.)
                try:
                    fsb.remove(p)
                except OSError:
                    pass
        for suffix in (".compacting", ".old"):  # legacy crash siblings
            fsb.rmtree(d + suffix)
    return n


def lookup(table, view=None) -> DataFrame:
    """Current key → (partition, file_id, instant) map: fold entries
    latest-wins, drop removals, and keep only locations whose file group is
    still live."""
    spark = table.spark
    if not _has_entry_files(table):
        # initialized-but-empty index (marker written on an empty table)
        return local_frame(spark, [], LOOKUP_SCHEMA)
    df = _read_entries(table)
    # entries written by rolled-back / restored-over instants never happened
    rolled_back = table.timeline.rolled_back()
    if rolled_back:
        df = df.filter(~F.col("instant").isin(*sorted(rolled_back)))
    w = Window.partitionBy(RECORD_KEY, PARTITION_PATH).orderBy(
        F.desc("instant"), F.desc("op"))  # same instant: 'R' sorts above 'A'
    latest = (df.withColumn("__rn", F.row_number().over(w))
              .filter((F.col("__rn") == 1) & (F.col("op") == "A"))
              .drop("__rn", "op", "bucket"))
    view = view or table.view()
    live = {(sl.partition, sl.file_id) for sl in view.latest_slices()}
    if not live:
        return latest.limit(0)
    live_df = F.broadcast(local_frame(
        spark, sorted(live), f"{PARTITION_PATH} string, file_id string"))
    return latest.join(live_df, [PARTITION_PATH, "file_id"], "left_semi")
