"""Column-stats backfill: ANALYZE for tables written before stats were
configured.

Reference parity: Hudi builds its column-stats metadata-table partition
asynchronously over EXISTING files (HoodieIndexer / metadata index
initialization); write-time harvesting alone cannot serve tables that
predate the config. Here the backfill writes a sidecar under
``.hoodie/col_stats/`` mapping the partition-qualified relative file path
to ``{alias: [min, max]}``; the file-system view overlays it onto each
base file's manifest stats, so ``snapshot(skip_filters=...)`` prunes
identically whether stats came from the write path or a later ANALYZE.

Scale: one column-pruned Spark job over exactly the not-yet-covered live
base files; driver data is one row per analyzed file (the same bound as
write-time harvesting). Keyed by partition-qualified path, never basename
(bucket tables reuse basenames across partitions)."""

from __future__ import annotations

import json
import os
import uuid

from ..writer import expr_min_max


def _dir(table) -> str:
    return os.path.join(table.base_path, ".hoodie", "col_stats")


def _load_sidecars(base_path: str) -> dict[str, dict]:
    from .. import storage

    d = os.path.join(base_path, ".hoodie", "col_stats")
    merged: dict[str, dict] = {}
    # compacted.json holds the OLDEST entries but sorts after the
    # timestamp-named sidecars (digits < 'c'); load it first so a
    # sidecar written after compaction (re-ANALYZE, redefined expr
    # alias) wins the per-alias update below
    names = sorted(storage.FS.listdir(d),
                   key=lambda fn: (fn != "compacted.json", fn))
    for fn in names:
        if not fn.endswith(".json"):
            continue
        try:
            raw = storage.FS.read_bytes(os.path.join(d, fn))
            if raw is None:
                continue
            for path, cs in json.loads(raw).items():
                merged.setdefault(path, {}).update(cs)
        except (OSError, json.JSONDecodeError):
            continue
    return merged


def analyze(table, columns: list[str] | None = None,
            exprs: dict[str, str] | None = None,
            force: bool = False) -> int:
    """Backfill per-file min/max for the given columns (alias = column
    name) and/or SQL expressions ``{alias: expr}`` over live base files
    that don't already carry those stats. Returns the number of files
    analyzed. Idempotent: covered files are skipped unless ``force``."""
    want: dict[str, str] = {c: c for c in (columns or [])}
    want.update(exprs or {})
    if not want:
        raise ValueError("analyze needs columns=... and/or exprs=...")
    view = table.view()
    sidecar = _load_sidecars(table.base_path)
    targets = []
    for sl in view.latest_slices():
        bf = sl.base_file
        if bf is None or bf.bootstrap:
            continue
        have = set((bf.col_stats or {})) | set(sidecar.get(bf.path, {}))
        if force or not set(want) <= have:
            targets.append(bf.path)
    if not targets:
        return 0
    out = {p: cs for p, cs in expr_min_max(table, targets, want).items()
           if cs}
    if not out:
        return 0
    from .. import storage

    d = _dir(table)
    table.storage.makedirs(d)
    storage.ATOMIC.put_atomic(
        os.path.join(
            d, f"{table.timeline.new_instant_time()}-{uuid.uuid4().hex[:6]}.json"),
        json.dumps(out).encode())
    return len(out)


def compact_sidecars(table) -> int:
    """Merge all sidecar files into one and drop entries whose file no
    longer exists (cleaned/replaced) — keeps the overlay read O(live
    files). Returns entries kept."""
    merged = _load_sidecars(table.base_path)
    live = {sl.base_file.path for sl in table.view().latest_slices()
            if sl.base_file is not None}
    kept = {p: cs for p, cs in merged.items() if p in live}
    from .. import storage

    d = _dir(table)
    fs = table.storage
    # write the merged file FIRST, then delete the inputs — a crash in
    # between leaves duplicates (harmless: the overlay merges), never a
    # window where all backfilled stats are lost
    before = [fn for fn in fs.listdir(d) if fn.endswith(".json")]
    if not before:
        return 0
    if kept:
        storage.ATOMIC.put_atomic(os.path.join(d, "compacted.json"),
                                  json.dumps(kept).encode())
    for fn in before:
        if fn != "compacted.json" or not kept:
            try:
                fs.remove(os.path.join(d, fn))
            except OSError:
                pass
    return len(kept)
