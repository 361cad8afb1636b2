"""Secondary index: non-key column value → file-group pruning map.

Public Hudi-1.0 secondary-index design (this reference snapshot predates
it): point predicates on NON-key columns normally scan every file whose
[min, max] range admits the value — useless for high-cardinality columns
whose ranges overlap everywhere. A secondary index persists the distinct
``(value, partition, file_id)`` tuples per written file, so a lookup prunes
the scan to exactly the file groups that ever contained the value.

Consistency model (pruning index — false positives allowed, false
negatives never):
  * entries are appended per commit from the just-written files; rewrites
    keep the file_id, so stale entries only over-approximate (the reader
    re-applies the real predicate);
  * entries pointing at replaced file groups are filtered by the live-group
    set at lookup;
  * :func:`create_index` backfills from ALL live slices first and writes an
    init marker — file groups written before the index existed would
    otherwise be silently missed (a correctness bug, not a perf one);
  * :func:`compact` rewrites the index keeping only entries whose file
    group is still live.

Layout: ``<base>/.hoodie/secondary_index/<column>/add-<instant>-<rand>/``
Spark-written parquet dirs, one per append, plus ``compacted-<rand>/``
folds (value kept in its native parquet type). Write-once dirs + a
write-fold-then-delete compact order mean NO renames anywhere, so the
index runs unchanged on object stores; the legacy flat
``<instant>.parquet`` files of the pre-round-10 layout are still read.
All file ops go through the ``storage.Storage`` seam.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import PARTITION_PATH
from .frames import local_frame

__all__ = ["create_index", "drop_index", "indexed_columns", "exists",
           "append_entries_for_stats", "lookup_groups", "compact"]


def _dir(table, column: str) -> str:
    return os.path.join(table.base_path, ".hoodie", "secondary_index", column)


def _marker(table, column: str) -> str:
    return _dir(table, column) + ".init"


def exists(table, column: str) -> bool:
    return table.storage.exists(_marker(table, column))


def indexed_columns(table) -> list[str]:
    root = os.path.join(table.base_path, ".hoodie", "secondary_index")
    return sorted(c for c in table.storage.listdir(root)
                  if not c.endswith(".init") and exists(table, c))


def _harvest(table, slices, column: str) -> DataFrame | None:
    """Distinct (value, partition, file_id) from the given slices' base
    AND log files — a column-pruned scan of exactly those files. Log files
    must be included: on a MOR table a value may exist only in un-compacted
    deltas at index-creation time, and omitting it would make lookup_groups
    return a false negative (contract: false negatives never)."""
    view = table.view()
    paths = []
    for sl in slices:
        if sl.base_file is not None:
            paths.append(view.abs(sl.base_file.path))
        paths += [view.abs(lf.path) for lf in sl.log_files]
    if not paths:
        return None
    # mergeSchema: base and delta files can differ (schema evolution lands
    # in deltas first on MOR) — the one-shot backfill can afford the
    # footer merge, and an evolved column must not vanish from the index
    df = table.spark.read.option("mergeSchema", "true").parquet(*paths)
    if column not in df.columns:
        return None
    return (df.select(F.col(column).alias("value"),
                      F.col(PARTITION_PATH).alias("pp"),
                      F.element_at(F.split(F.input_file_name(), "/"), -1)
                      .alias("__f"))
            .withColumn("file_id",
                        F.element_at(F.split(F.col("__f"), "_"), 1))
            .drop("__f").distinct())


def _append(table, column: str, entries: DataFrame, instant: str) -> None:
    # one write-once Spark dir per append: no rename, object-store native
    d = _dir(table, column)
    table.storage.makedirs(d)
    out = os.path.join(d, f"add-{instant}-{uuid.uuid4().hex[:6]}")
    entries.coalesce(1).write.mode("overwrite").parquet(out)


def create_index(table, column: str) -> None:
    """CREATE INDEX: backfill from every live base slice, then mark
    initialized. Cost = one column-pruned pass over the table, paid once
    (the per-commit maintenance afterwards touches only written files)."""
    if exists(table, column):
        return
    view = table.view()
    entries = _harvest(table, view.latest_slices(), column)
    if entries is not None:
        _append(table, column, entries, "00000000000000000")
    from . import storage

    table.storage.makedirs(_dir(table, column))
    storage.ATOMIC.put_atomic(_marker(table, column), column.encode())


def drop_index(table, column: str) -> None:
    table.storage.rmtree(_dir(table, column))
    try:
        table.storage.remove(_marker(table, column))
    except OSError:
        pass


def append_entries_for_stats(table, stats: list[dict], instant: str) -> None:
    """Per-commit maintenance: harvest the indexed columns from this
    commit's written files only (base AND delta — a delta can introduce new
    values into an existing slice)."""
    cols = indexed_columns(table)
    if not cols:
        return
    paths = [os.path.join(table.base_path, s["path"]) for s in stats
             if not os.path.isabs(s["path"])]
    if not paths:
        return
    df = table.spark.read.parquet(*paths)
    for column in cols:
        if column not in df.columns:
            continue
        entries = (df.select(F.col(column).alias("value"),
                             F.col(PARTITION_PATH).alias("pp"),
                             F.lit(None).cast("string").alias("file_id"),
                             F.element_at(F.split(F.input_file_name(), "/"),
                                          -1).alias("__f"))
                   .withColumn("file_id",
                               F.element_at(F.split(F.col("__f"), "_"), 1))
                   .drop("__f").distinct())
        _append(table, column, entries, instant)


def _index_paths(table, column: str) -> list[str]:
    d = _dir(table, column)
    fs = table.storage
    paths = []
    for e in fs.listdir(d):
        if e.endswith(".parquet"):  # legacy flat layout: still readable
            paths.append(os.path.join(d, e))
        elif e.startswith(("add-", "compacted-")):
            sub = os.path.join(d, e)
            if any(f.endswith(".parquet") for f in fs.listdir(sub)):
                paths.append(sub)
    return paths


def _read_index(table, column: str) -> DataFrame | None:
    paths = _index_paths(table, column)
    if not paths:
        return None
    return table.spark.read.parquet(*paths)


def lookup_groups(table, column: str, values_df: DataFrame,
                  view=None) -> set[tuple[str, str]] | None:
    """Live file groups that may contain any of the values (one column
    ``value``). None = index unusable (caller falls back to stats/scan)."""
    if not exists(table, column):
        return None
    idx = _read_index(table, column)
    if idx is None:
        return set()
    view = view or table.view()
    live = {(pp, fid) for (pp, fid), grp in view.groups.items()
            if grp.is_live(None) and grp.latest_slice(None)}
    hit = (idx.join(F.broadcast(values_df.select("value").distinct()),
                    "value", "left_semi")
           .select("pp", "file_id").distinct().collect())
    return {(r.pp, r.file_id) for r in hit} & live


def compact(table, column: str) -> int:
    """Rewrite the index keeping only entries for live file groups.
    Returns the number of entries kept."""
    idx = _read_index(table, column)
    if idx is None:
        return 0
    view = table.view()
    live = sorted({(pp, fid) for (pp, fid), grp in view.groups.items()
                   if grp.is_live(None) and grp.latest_slice(None)})
    d = _dir(table, column)
    fs = table.storage
    stale = _index_paths(table, column)
    if not live:
        for p in stale:
            _rm_entry(fs, p)
        return 0
    live_df = F.broadcast(local_frame(
        table.spark, live, "pp string, file_id string"))
    kept = idx.join(live_df, ["pp", "file_id"], "left_semi").distinct()
    # write the fold FIRST, delete the superseded entries after — a crash
    # in between leaves duplicates, which the pruning contract absorbs
    # (distinct lookup, false positives allowed); never a lost index
    dst = os.path.join(d, f"compacted-{uuid.uuid4().hex[:8]}")
    kept.coalesce(1).write.mode("overwrite").parquet(dst)
    n = table.spark.read.parquet(dst).count()
    for p in stale:
        _rm_entry(fs, p)
    return n


def _rm_entry(fs, path: str) -> None:
    fs.rmtree(path)
    if fs.exists(path):  # a flat legacy file, not a dir
        try:
            fs.remove(path)
        except OSError:
            pass
