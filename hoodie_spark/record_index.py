"""Record-level index: a persisted record_key → (partition, file_id) map.

Reference parity: the metadata-table record index (key → location) that
replaces scanning data files for tagging. Without it, every upsert reads
the record-key column of all files in the affected partitions; with it,
tagging joins the incoming batch against a compact 3-column parquet index —
at 100 TB that is the difference between scanning terabytes and scanning
the index (gigabytes, dictionary-encoded keys).

Layout: one bucketed sub-store ``record_index`` of a
:class:`~hoodie_spark.generation_store.GenerationStore` under
``<base>/.hoodie`` with the pointer ``record_index.gen`` (the store's
docstring gives the generation layout and the crash contract). Each
commit appends one file per bucket, hash-bucketed by key so point lookups
read one bucket. Entries carry (key, partition, file_id, op A/R,
instant); the lookup folds them latest-wins and drops 'R' (removed)
entries.

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
from .fsview import BaseFile, FileSlice, file_id_of
from .generation_store import GenerationStore, bucket_of

INDEX_SCHEMA = (f"{RECORD_KEY} string, {PARTITION_PATH} string, "
                "file_id string, op string, instant string")

_SUB = "record_index"


def index_dir(table) -> str:
    return os.path.join(table.base_path, ".hoodie", _SUB)


def _marker_path(table) -> str:
    # lives NEXT TO the index dir (not inside it): compaction supersedes
    # generations under the dir and must not touch the init marker
    return index_dir(table) + ".init"


def _store(table) -> GenerationStore:
    store = GenerationStore(table.spark, table.storage,
                            os.path.dirname(index_dir(table)),
                            _SUB + ".gen", (_SUB,))
    store.open()
    return store


def exists(table) -> bool:
    """True once the index is initialized (marker present). Entry files
    alone are not enough: a pre-existing table that enables the flag gets
    entries for touched file groups only until the backfill has run."""
    return table.storage.exists(_marker_path(table))


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
                               file_id_of(FILE_NAME).alias("file_id"),
                               F.lit("A").alias("op"),
                               # index under the commit that wrote each file,
                               # so future appends order correctly against it
                               F.col(COMMIT_TIME).alias("instant")))
            append_entries(table, entries)
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
    base_stats = [s for s in stats if not s.get("is_delta")]
    if not base_stats:
        return None
    slices = [FileSlice(s["partition"], s["file_id"], instant,
                        BaseFile(s["path"], s["file_name"], s.get("size", 0),
                                 bootstrap=s.get("bootstrap", False)))
              for s in base_stats]
    return (table.read_slices_base(slices)
            .select(F.col(RECORD_KEY), F.col(PARTITION_PATH),
                    file_id_of(FILE_NAME).alias("file_id"),
                    F.lit("A").alias("op"), F.lit(instant).alias("instant")))


def append_entries(table, entries: DataFrame) -> None:
    """Append entries (see :func:`entries_from_written_files`) to the live
    generation, one file per bucket. Rewritten groups re-append their
    keys; lookup dedups latest-wins."""
    out = entries.withColumn("bucket", bucket_of(
        RECORD_KEY, table.write_config.record_index_buckets))
    _store(table).append(_SUB, out.repartition(F.col("bucket")))


def append_removals(table, keys_df: DataFrame, instant: str) -> None:
    """Register 'R' entries for a delete batch (keys_df carries RECORD_KEY
    and PARTITION_PATH — partition may be null for global deletes)."""
    entries = keys_df.select(
        F.col(RECORD_KEY), F.col(PARTITION_PATH),
        F.lit(None).cast("string").alias("file_id"),
        F.lit("R").alias("op"), F.lit(instant).alias("instant"))
    append_entries(table, entries)


def _entries(table, store: GenerationStore) -> DataFrame:
    """The live generation's entries, less those written by rolled-back /
    restored-over instants (they never happened)."""
    df = store.read(_SUB, INDEX_SCHEMA)
    rolled_back = table.timeline.rolled_back()
    if rolled_back:
        df = df.filter(~F.col("instant").isin(*sorted(rolled_back)))
    return df


def _latest(df: DataFrame) -> DataFrame:
    """The latest entry per (key, partition), kept only when it is an 'A'
    (same instant: 'R' sorts above 'A')."""
    w = Window.partitionBy(RECORD_KEY, PARTITION_PATH).orderBy(
        F.desc("instant"), F.desc("op"))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("op") == "A"))
            .drop("__rn"))


def compact(table, retain_commits: int | None = None) -> int:
    """Fold the append-only index buckets into one file per bucket.

    Entries from the last ``retain_commits`` data commits (default: the
    cleaner retention) are kept RAW: a future rollback/restore can still
    exclude them by instant. Older entries fold latest-wins — safe because
    restore past the clean horizon is impossible anyway (the data files are
    gone). The result is the store's next generation, published in one
    pointer swap. Returns the number of entries it holds.
    """
    from . import timeline as tl
    from .timeline import LockProvider

    retain = retain_commits if retain_commits is not None \
        else table.write_config.cleaner_commits_retained
    commits = table.timeline.completed(tl.DATA_ACTIONS)
    if len(commits) <= retain:
        return 0
    horizon = commits[-retain].timestamp

    # the lock covers read → fold → write → swap: a writer appending between
    # an unguarded read and the swap would have its entries silently
    # discarded by the overwrite (reverting those keys' locations)
    with LockProvider(table.base_path, table.write_config.lock_timeout_s,
                      table.write_config.lock_expiry_s):
        store = _store(table)
        df = _entries(table, store)
        folded = _latest(df.filter(F.col("instant") < horizon))
        out = folded.unionByName(df.filter(F.col("instant") >= horizon))
        return store.replace({_SUB: out}, {})


def lookup(table, view=None) -> DataFrame:
    """Current key → (partition, file_id, instant) map: fold entries
    latest-wins, drop removals, and keep only locations whose file group is
    still live."""
    latest = _latest(_entries(table, _store(table))).drop("op", "bucket")
    view = view or table.view()
    live = view.live_groups()
    if not live:
        return latest.limit(0)
    live_df = F.broadcast(local_frame(
        table.spark, live, f"{PARTITION_PATH} string, file_id string"))
    return latest.join(live_df, [PARTITION_PATH, "file_id"], "left_semi")
