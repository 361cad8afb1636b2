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

Layout: one flat sub-store ``<column>`` of a
:class:`~hoodie_spark.generation_store.GenerationStore` under
``<base>/.hoodie/secondary_index`` with the pointer ``<column>.gen`` (the
store's docstring gives the generation layout and the crash contract).
Each commit appends one file per indexed column to the live generation
(value kept in its native parquet type). An index written before the
store (``add-*``/``compacted-*`` dirs and flat ``*.parquet`` files under
``<column>/``) is that column's legacy generation until its first
:func:`compact`. Appends and compaction run under the table lock in a
multi-writer setup (:func:`compact` takes it; the writer appends inside
its commit section).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import PARTITION_PATH
from .frames import local_frame
from .fsview import file_id_of
from .generation_store import GenerationStore

__all__ = ["create_index", "drop_index", "indexed_columns", "exists",
           "append_entries_for_stats", "lookup_groups", "compact"]


def _root(table) -> str:
    return os.path.join(table.base_path, ".hoodie", "secondary_index")


def _marker(table, column: str) -> str:
    return os.path.join(_root(table), column + ".init")


def _store(table, column: str) -> GenerationStore:
    store = GenerationStore(table.spark, table.storage, _root(table),
                            column + ".gen", (column,), flat=(column,))
    store.open()
    return store


def _read(table, column: str, store: GenerationStore) -> DataFrame:
    """The column's entries, typed as the table column."""
    t = table.schema[column].dataType.simpleString()
    return store.read(column, f"value {t}, pp string, file_id string")


def _append(table, column: str, entries: DataFrame) -> None:
    _store(table, column).append(column, entries.coalesce(1))


def exists(table, column: str) -> bool:
    return table.storage.exists(_marker(table, column))


def indexed_columns(table) -> list[str]:
    return sorted(c for c in table.storage.listdir(_root(table))
                  if not c.endswith((".init", ".gen")) and exists(table, c))


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
    return _entries(df, column)


def _entries(df: DataFrame, column: str) -> DataFrame:
    """Distinct (value, pp, file_id) of ``df``'s rows, the file id taken
    from the name of the file each row was read from."""
    return (df.select(F.col(column).alias("value"),
                      F.col(PARTITION_PATH).alias("pp"),
                      F.element_at(F.split(F.input_file_name(), "/"), -1)
                      .alias("__f"))
            .withColumn("file_id", file_id_of(F.col("__f")))
            .drop("__f").distinct())


def create_index(table, column: str) -> None:
    """CREATE INDEX: backfill from every live base slice, then mark
    initialized. Cost = one column-pruned pass over the table, paid once
    (the per-commit maintenance afterwards touches only written files)."""
    if exists(table, column):
        return
    view = table.view()
    entries = _harvest(table, view.latest_slices(), column)
    if entries is not None:
        _append(table, column, entries)
    from . import storage

    table.storage.makedirs(_root(table))
    storage.ATOMIC.put_atomic(_marker(table, column), column.encode())


def drop_index(table, column: str) -> None:
    """Remove the marker first: a crash part-way leaves an uninitialized
    index (lookups fall back to the scan), never a marked, emptied one."""
    store = _store(table, column)
    for p in (_marker(table, column), store.pointer):
        try:
            table.storage.remove(p)
        except OSError:
            pass
    table.storage.rmtree(os.path.join(store.path, column))


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
        if column in df.columns:
            _append(table, column, _entries(df, column))


def lookup_groups(table, column: str, values_df: DataFrame,
                  view=None) -> set[tuple[str, str]] | None:
    """Live file groups that may contain any of the values (one column
    ``value``). None = index unusable (caller falls back to stats/scan)."""
    if not exists(table, column):
        return None
    idx = _read(table, column, _store(table, column))
    view = view or table.view()
    hit = (idx.join(F.broadcast(values_df.select("value").distinct()),
                    "value", "left_semi")
           .select("pp", "file_id").distinct().collect())
    return {(r.pp, r.file_id) for r in hit} & set(view.live_groups())


def compact(table, column: str) -> int:
    """Rewrite the index as its next generation, keeping only entries for
    live file groups. Returns the number of entries kept.

    Takes the table lock: a commit appending between the read and the
    pointer swap would otherwise lose its entries (a false negative)."""
    from .timeline import LockProvider

    with LockProvider(table.base_path, table.write_config.lock_timeout_s,
                      table.write_config.lock_expiry_s):
        store = _store(table, column)
        live = table.view().live_groups()
        live_df = F.broadcast(local_frame(
            table.spark, live, "pp string, file_id string"))
        kept = (_read(table, column, store)
                .join(live_df, ["pp", "file_id"], "left_semi").distinct())
        return store.replace({column: kept.coalesce(1)}, {})
