"""Rollback / savepoint / restore.

Reference parity: BaseRollbackActionExecutor.java:51 +
SparkMarkerBasedRollbackStrategy.java (undo an instant by deleting its
files), SavepointActionExecutor.java:48 (pin a commit's files against
cleaning), BaseRestoreActionExecutor.java:44 (restore = rollback chain).

Spark-first: the commit manifest already lists every file an instant wrote,
so rollback is pure driver-side metadata + file deletes — no listing, no
marker scan. The rolled-back instant stays on the timeline; the view fold
skips instants named in rollback/restore metadata."""

from __future__ import annotations

import os

from .. import timeline as tl


def _delete_instant_files(table, ts: str) -> list[str]:
    deleted = []
    for action in tl.DATA_ACTIONS:
        inst = tl.Instant(ts, action)
        try:
            md = table.timeline.metadata(inst)
        except FileNotFoundError:
            continue
        for st in md.get("write_stats", []):
            if os.path.isabs(st["path"]):
                continue  # metadata-only bootstrap source — never deleted
            p = os.path.join(table.base_path, st["path"])
            if table.storage.exists(p):
                table.storage.remove(p)
                deleted.append(st["path"])
    from .. import bloom
    bloom.drop_sidecar(table, ts)
    return deleted


def _pending_instant_files(table, instant_ts: str) -> list[str]:
    """ListingBasedRollbackHelper.java:252 equivalent for PENDING instants:
    a writer that died before publishing left no commit metadata, but every
    file it wrote embeds its instant time in the name (FSUtils.java:131
    ``fileId_token_instant.parquet`` / delta naming), so a listing of the
    table finds exactly its output (relative paths). This is the rare
    crash-recovery path — normal rollback of a completed instant stays
    manifest-driven and never lists."""
    suffixes = (f"_{instant_ts}.parquet", f"_{instant_ts}.delta.parquet")
    return [rel for rel in table.storage.walk(table.base_path, ".hoodie")
            if rel.endswith(suffixes)]


def _listing_rollback_files(table, instant_ts: str) -> list[str]:
    """Delete a pending instant's files (:func:`_pending_instant_files`)."""
    deleted = _pending_instant_files(table, instant_ts)
    for rel in deleted:
        table.storage.remove(os.path.join(table.base_path, rel))
    return deleted


def rollback_failed_writes(table) -> list[str]:
    """Reclaim pending data instants whose writer died — heartbeat expired
    or never written (BaseHoodieWriteClient.rollbackFailedWrites +
    HoodieHeartbeatClient.java). Pending instants with a LIVE heartbeat are
    a concurrent writer's in-flight work and are left untouched, which is
    what makes the "lazy" policy safe under multi-writer OCC."""
    cfg = table.write_config
    if cfg.failed_writes_policy == "never":
        return []
    _sweep_publish_orphans(table)
    hb = tl.Heartbeat(table.base_path)
    seen: list[str] = []
    for inst in table.timeline.pending():
        ts = inst.timestamp
        if inst.action not in tl.DATA_ACTIONS or ts in seen:
            continue
        if not hb.is_expired(ts, cfg.heartbeat_expiry_s):
            continue
        # re-check under the table lock: between the expiry probe above and
        # the rollback, the owning writer may have beaten again (its
        # background refresher fires every expiry/4) or published — without
        # this, the TOCTOU window deletes a live writer's files mid-flight
        try:
            with tl.LockProvider(table.base_path, cfg.lock_timeout_s,
                                 cfg.lock_expiry_s):
                if hb.is_expired(ts, cfg.heartbeat_expiry_s) \
                        and any(i.timestamp == ts
                                for i in table.timeline.pending()):
                    rollback(table, ts)  # also stops the heartbeat
                    seen.append(ts)
        except TimeoutError:
            continue  # table busy — reclamation can wait for the next run
    return seen


def _sweep_publish_orphans(table, max_age_s: float = 3600) -> None:
    """A driver killed mid-``put_atomic`` leaves a ``.<hex>.tmp`` in the
    timeline dir (storage.LocalAtomicStorage writes the temp next to its
    destination — rename is only atomic within one filesystem). Reads
    filter on ``.json`` so orphans are invisible, but nothing else would
    ever delete them; reclamation is the natural janitor. Age-guarded so
    a concurrent writer's in-flight temp (a sub-second window) survives."""
    import time

    from .. import storage

    d = table.timeline.dir
    fs = table.storage
    cutoff = time.time() - max_age_s
    for name in fs.listdir(d):
        if not (name.startswith(".") and name.endswith(".tmp")):
            continue
        p = os.path.join(d, name)
        try:
            mt = storage.ATOMIC.mtime(p)
            if mt is not None and mt < cutoff:
                fs.remove(p)
        except (OSError, NotImplementedError):
            pass  # raced with a concurrent sweep, or mtime unsupported


def _undo_structural_config(table, instant_ts: str) -> None:
    """A bucket rescale flips the PERSISTED bucket count in the same commit
    that rewrites the layout; undoing that commit must undo the count too,
    or config and data disagree and the next upsert routes off-layout
    (duplicate keys). The flip is recorded in the commit's metadata extra
    (services/cluster.py::rescale_buckets)."""
    for action in tl.DATA_ACTIONS:
        try:
            md = table.timeline.metadata(tl.Instant(instant_ts, action))
        except FileNotFoundError:
            continue
        rs = md.get("extra", {}).get("bucket_rescale")
        if rs:
            table.config.bucket_index_num_buckets = rs["from"]
            table.write_config.bucket_index_num_buckets = rs["from"]
            table.save_properties()


def rollback(table, instant_ts: str):
    """Undo the LATEST completed data instant (or a pending one). Hudi
    equally restricts rollback of non-latest commits unless cascading —
    use restore() for that."""
    timeline = table.timeline
    already = timeline.rolled_back()
    if instant_ts in already:
        raise ValueError(f"instant {instant_ts} was already rolled back")
    pending = [i for i in timeline.pending() if i.timestamp == instant_ts]
    completed = [i for i in timeline.completed(tl.DATA_ACTIONS)
                 if i.timestamp == instant_ts]
    if completed:
        live = [i for i in timeline.completed(tl.DATA_ACTIONS)
                if i.timestamp not in already]
        if not live or live[-1].timestamp != instant_ts:
            raise ValueError(
                f"can only rollback the latest commit "
                f"{live[-1].timestamp if live else None}; use restore()")
    elif not pending:
        raise ValueError(f"no instant {instant_ts} to roll back")

    if completed:
        _undo_structural_config(table, instant_ts)
    deleted = _delete_instant_files(table, instant_ts)
    if pending and not completed:
        # crashed writer: no manifest to consult — sweep by filename
        deleted += _listing_rollback_files(table, instant_ts)
    for inst in pending:
        timeline.delete_instant(inst)
    tl.Heartbeat(table.base_path).stop(instant_ts)
    t = timeline.new_instant_time()
    timeline.create_requested(tl.ROLLBACK, t)
    timeline.complete(tl.ROLLBACK, t, {
        "targets": [instant_ts], "deleted_files": deleted})
    return t


def savepoint(table, instant_ts: str | None = None) -> str:
    """Pin the file set live as of ``instant_ts`` (default: latest)."""
    timeline = table.timeline
    if instant_ts is None:
        last = timeline.last_completed()
        if last is None:
            raise ValueError("empty table")
        instant_ts = last.timestamp
    view = table.view()
    files = [sl.base_file.path for sl in view.latest_slices(as_of=instant_ts)
             if sl.base_file is not None]
    logs = [lf.path for sl in view.latest_slices(as_of=instant_ts)
            for lf in sl.log_files_as_of(instant_ts)]
    t = timeline.new_instant_time()
    timeline.create_requested(tl.SAVEPOINT, t)
    timeline.complete(tl.SAVEPOINT, t, {
        "savepointed_at": instant_ts, "files": files + logs})
    return t


def savepointed_instants(table) -> set[str]:
    return {table.timeline.metadata(i)["savepointed_at"]
            for i in table.timeline.completed((tl.SAVEPOINT,))}


def savepointed_files(table) -> set[str]:
    out: set[str] = set()
    for i in table.timeline.completed((tl.SAVEPOINT,)):
        out.update(table.timeline.metadata(i)["files"])
    return out


def restore(table, instant_ts: str):
    """Restore the table to its state as of ``instant_ts`` by rolling back
    every later data instant (newest first)."""
    timeline = table.timeline
    targets = [i for i in timeline.completed(tl.DATA_ACTIONS)
               if i.timestamp > instant_ts]
    deleted: list[str] = []
    for inst in reversed(targets):
        _undo_structural_config(table, inst.timestamp)
        deleted += _delete_instant_files(table, inst.timestamp)
    for inst in timeline.pending():
        timeline.delete_instant(inst)
    t = timeline.new_instant_time()
    timeline.create_requested(tl.RESTORE, t)
    timeline.complete(tl.RESTORE, t, {
        "restored_to": instant_ts,
        "targets": [i.timestamp for i in targets],
        "deleted_files": deleted})
    return t
