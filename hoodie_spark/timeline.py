"""Timeline: the table's transaction log.

Reference parity: common/table/timeline/HoodieTimeline.java:46-57 (actions
commit/deltacommit/clean/rollback/savepoint/restore/compaction/replacecommit),
HoodieInstant.java:35,63 (action, timestamp, state), HoodieActiveTimeline.java
:61,80 (yyyyMMddHHmmss[SSS] instant times), :149 (atomic completion via
create), HoodieTimelineArchiveLog.java:72,120 (archival).

Spark-first design: the timeline is pure driver-side Python over JSON files —
no Spark job ever touches it. One file per (instant, state); completion is an
atomic whole-object publish through the ``storage.AtomicStorage`` seam, so
concurrent readers only ever see fully-written completed instants (same trick
as HoodieActiveTimeline.createImmutableFileInPath). Archived instants are
folded into write-once JSON-lines CHUNK objects (one per archive run, each
published atomically — no append, so the same code runs on object stores);
the archive stays cheap to scan at 100 TB scale (thousands of commits == a
few MB of driver-side JSON). All listings/reads/deletes go through the
``storage.Storage`` seam (``storage.FS`` or an injected adapter), the
FSUtils-equivalent boundary an object-store deployment swaps.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from dataclasses import dataclass

logger = logging.getLogger(__name__)

# Actions (HoodieTimeline.java:46-57)
COMMIT = "commit"
DELTACOMMIT = "deltacommit"
REPLACECOMMIT = "replacecommit"
# minor compaction of a slice's delta files into one merged delta (public
# Hudi-1.0 log-compaction design; this reference snapshot has only full
# compaction)
LOGCOMPACTION = "logcompaction"
CLEAN = "clean"
ROLLBACK = "rollback"
SAVEPOINT = "savepoint"
RESTORE = "restore"

DATA_ACTIONS = (COMMIT, DELTACOMMIT, REPLACECOMMIT, LOGCOMPACTION)

REQUESTED = "requested"
INFLIGHT = "inflight"
COMPLETED = "completed"


@dataclass(frozen=True, order=True)
class Instant:
    """timeline/HoodieInstant.java:35 — (timestamp, action, state)."""

    timestamp: str
    action: str
    state: str = COMPLETED

    def filename(self) -> str:
        return f"{self.timestamp}.{self.action}.{self.state}.json"


class Timeline:
    """Active + archived timeline for one table."""

    def __init__(self, base_path: str, fs=None):
        self.base_path = base_path
        self.meta_dir = os.path.join(base_path, ".hoodie")
        self.dir = os.path.join(self.meta_dir, "timeline")
        self.archive_dir = os.path.join(self.meta_dir, "archived")
        # legacy single-append-file archive (pre-chunk layout): still read,
        # never written — new folds publish write-once chunk objects
        self.archive_path = os.path.join(self.archive_dir, "commits.jsonl")
        self.temp_dir = os.path.join(self.meta_dir, ".temp")
        self._last_ts = ""
        self._fs = fs

    @property
    def fs(self):
        if self._fs is not None:
            return self._fs
        from . import storage

        return storage.FS

    def init(self) -> None:
        self.fs.makedirs(self.dir)
        self.fs.makedirs(self.temp_dir)
        self.fs.makedirs(self.archive_dir)

    # ------------------------------------------------------------------ ids
    def new_instant_time(self) -> str:
        """Millisecond commit times (HoodieActiveTimeline.java:61 format,
        extended to millis), strictly monotonic per process and above
        every instant on the timeline, pending ones included: a second
        writer never mints a time at or below an instant in flight."""
        ms = time.time_ns() // 1_000_000  # one clock read: seconds and millis agree
        ts = time.strftime("%Y%m%d%H%M%S", time.localtime(ms // 1000)) + f"{ms % 1000:03d}"
        existing = max((i.timestamp for i in
                        self.instants((REQUESTED, INFLIGHT, COMPLETED))),
                       default="")
        floor = max(self._last_ts, existing)
        if ts <= floor:
            ts = str(int(floor) + 1)
        self._last_ts = ts
        return ts

    # ---------------------------------------------------------- transitions
    def _path(self, instant: Instant) -> str:
        return os.path.join(self.dir, instant.filename())

    def create_requested(self, action: str, timestamp: str, meta: dict | None = None) -> Instant:
        inst = Instant(timestamp, action, REQUESTED)
        self._atomic_write(self._path(inst), meta or {})
        return inst

    def transition_inflight(self, action: str, timestamp: str, meta: dict | None = None) -> Instant:
        inst = Instant(timestamp, action, INFLIGHT)
        self._atomic_write(self._path(inst), meta or {})
        return inst

    def complete(self, action: str, timestamp: str, metadata: dict) -> Instant:
        """Atomic publish — readers only see completed instants
        (HoodieActiveTimeline.java:149)."""
        inst = Instant(timestamp, action, COMPLETED)
        self._atomic_write(self._path(inst), metadata)
        for state in (REQUESTED, INFLIGHT):
            p = os.path.join(self.dir, Instant(timestamp, action, state).filename())
            try:
                self.fs.remove(p)
            except OSError:
                pass
        return inst

    def _atomic_write(self, path: str, payload: dict) -> None:
        # a storage-atomicity dependency (storage.AtomicStorage contract):
        # publish must be all-or-nothing
        from . import storage
        storage.ATOMIC.put_atomic(path, json.dumps(payload).encode())

    def delete_instant(self, instant: Instant) -> None:
        try:
            self.fs.remove(self._path(instant))
        except OSError:
            pass

    # -------------------------------------------------------------- queries
    def archived_records(self):
        """Yield archived-instant dicts: the legacy single append-file
        first (torn-tail tolerant — its writer crashed mid-append once
        upon a time), then the write-once chunk objects in name order.
        Chunks are atomic whole-object publishes, so they are never torn;
        an instant present in both a chunk and the active dir (crash
        between chunk publish and active delete) is harmless — callers
        dedup by (timestamp, action)."""
        legacy = self.fs.read_bytes(self.archive_path)
        chunks = [e for e in self.fs.listdir(self.archive_dir)
                  if e.startswith("chunk-") and e.endswith(".jsonl")]
        bodies = [] if legacy is None else [legacy]
        for name in sorted(chunks):
            body = self.fs.read_bytes(os.path.join(self.archive_dir, name))
            if body is not None:
                bodies.append(body)
        for body in bodies:
            for line in body.decode().splitlines():
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    # torn tail from a crashed legacy-era append; the
                    # instant is still in the active dir (its delete
                    # never ran), so skipping the garbage line is safe
                    continue

    def instants(self, states: tuple[str, ...] = (COMPLETED,), actions: tuple[str, ...] | None = None,
                 include_archived: bool = False) -> list[Instant]:
        out: list[Instant] = []
        if include_archived and COMPLETED in states:
            for rec in self.archived_records():
                out.append(Instant(rec["timestamp"], rec["action"], COMPLETED))
        for name in self.fs.listdir(self.dir):
            if not name.endswith(".json"):
                continue
            ts, action, state = name[: -len(".json")].split(".", 2)
            if state in states and (actions is None or action in actions):
                out.append(Instant(ts, action, state))
        if actions is not None:
            out = [i for i in out if i.action in actions]
        return sorted(set(out))

    def completed(self, actions: tuple[str, ...] | None = None, include_archived: bool = True) -> list[Instant]:
        return self.instants((COMPLETED,), actions, include_archived=include_archived)

    def pending(self) -> list[Instant]:
        return self.instants((REQUESTED, INFLIGHT))

    def metadata(self, instant: Instant) -> dict:
        raw = self.fs.read_bytes(self._path(instant))
        if raw is not None:
            return json.loads(raw)
        # fall back to the archive (HoodieArchivedTimeline.java)
        for rec in self.archived_records():
            if rec["timestamp"] == instant.timestamp and rec["action"] == instant.action:
                return rec["metadata"]
        raise FileNotFoundError(f"no metadata for {instant}")

    def rolled_back(self) -> set[str]:
        """Instants undone by a completed rollback or restored over by a
        completed restore: their writes never happened."""
        return {t for i in self.completed((ROLLBACK, RESTORE))
                for t in self.metadata(i).get("targets", [])}

    def last_completed(self, actions: tuple[str, ...] = DATA_ACTIONS) -> Instant | None:
        insts = self.completed(actions)
        return insts[-1] if insts else None

    # -------------------------------------------------------------- archive
    def archive(self, max_active: int, protected: set[str] | None = None) -> int:
        """Move oldest completed data instants beyond ``max_active`` into
        the archive (HoodieTimelineArchiveLog.java:120). Instants in
        ``protected`` (e.g. savepointed or not-yet-cleaned) stay active.

        Each fold publishes ONE write-once chunk object atomically
        (``storage.AtomicStorage.put_atomic``) and only then deletes the
        moved active files — the record is durably visible before the
        active instant disappears, with no append and no fsync ordering,
        so the same code runs on object stores. A crash between the chunk
        publish and the deletes leaves instants in both places; readers
        dedup. The pre-chunk single append-file archive is still read
        (:meth:`archived_records`), never written."""
        from . import storage

        active = self.instants((COMPLETED,), DATA_ACTIONS, include_archived=False)
        n_move = len(active) - max_active
        if n_move <= 0:
            return 0
        to_move = [i for i in active[:n_move]
                   if not (protected and i.timestamp in protected)]
        if not to_move:
            return 0
        lines = [json.dumps({"timestamp": i.timestamp, "action": i.action,
                             "metadata": self.metadata(i)}) for i in to_move]
        # unique, time-prefixed chunk name: no coordination needed, sorted
        # reads follow fold order
        name = (f"chunk-{time.strftime('%Y%m%d%H%M%S')}"
                f"{int(time.time_ns() // 1_000_000) % 1000:03d}"
                f"-{os.urandom(4).hex()}.jsonl")
        self.fs.makedirs(self.archive_dir)
        storage.ATOMIC.put_atomic(os.path.join(self.archive_dir, name),
                                  ("\n".join(lines) + "\n").encode())
        for inst in to_move:
            self.delete_instant(inst)
        return len(to_move)


class Heartbeat:
    """Failed-writer detection (client/heartbeat/HoodieHeartbeatClient.java,
    HeartbeatUtils.java; dir layout HoodieTableMetaClient.java:81
    ``.hoodie/.heartbeat``).

    A writer touches ``.hoodie/.heartbeat/<instant>`` while its write is in
    flight and deletes it on publish/abort. A PENDING instant whose heartbeat
    file is missing or older than the expiry therefore belongs to a writer
    that died mid-write; its partial files can be rolled back safely. Pure
    driver-side mtime checks — no Spark involvement."""

    def __init__(self, base_path: str):
        self.dir = os.path.join(base_path, ".hoodie", ".heartbeat")

    def _path(self, instant_ts: str) -> str:
        return os.path.join(self.dir, instant_ts)

    def refresh(self, instant_ts: str) -> None:
        """Start or re-arm the heartbeat for an in-flight instant. A PUT
        of an empty object updates the store's last-modified time — the
        object-store equivalent of a touch (there is no utime on S3/GCS);
        heartbeats don't DEPEND on atomicity, they just reuse the same
        adapter the lock refresher does."""
        from . import storage

        storage.FS.makedirs(self.dir)
        storage.ATOMIC.put_atomic(self._path(instant_ts), b"")

    def stop(self, instant_ts: str) -> None:
        from . import storage

        try:
            storage.FS.remove(self._path(instant_ts))
        except OSError:
            pass

    def auto_refresh(self, instant_ts: str, interval_s: float):
        """Background refresher for the duration of a write (Hudi's
        HoodieHeartbeatClient runs the same timer-driven beat): without it,
        a live write whose Spark jobs outlast the expiry looks dead and a
        lazy clean / eager concurrent writer would roll it back mid-flight.
        Returns a zero-arg cancel callable; the daemon thread dies with the
        process, so a crashed writer stops beating — exactly the signal
        reclamation needs."""
        ev = threading.Event()

        def _beat():
            while not ev.wait(interval_s):
                try:
                    self.refresh(instant_ts)
                except OSError:
                    return  # table dir removed under us — nothing to own
        t = threading.Thread(target=_beat, daemon=True,
                             name=f"hoodie-heartbeat-{instant_ts}")
        t.start()

        def _cancel():
            # join before returning so no in-flight refresh() can land
            # AFTER the caller's stop() removes the beat file
            ev.set()
            t.join(timeout=5)
        return _cancel

    def is_expired(self, instant_ts: str, expiry_s: float) -> bool:
        """Missing heartbeat counts as expired: a pending instant that never
        wrote one predates heartbeating or lost its writer before the first
        beat — either way no live writer owns it. Read through the seam
        (storage LastModified on object stores); an adapter without mtime
        support disables expiry — a dead write then waits for an operator,
        never the reverse."""
        from . import storage

        try:
            mtime = storage.ATOMIC.mtime(self._path(instant_ts))
        except NotImplementedError:
            return False  # reclamation disabled, never false-positive
        if mtime is None:
            return True
        return (time.time() - mtime) > expiry_s


class LockProvider:
    """File-based create-if-absent lock (common/lock/LockProvider.java;
    stands in for ZookeeperBasedLockProvider for single-host OCC).

    Stale-holder reclamation (FileSystemBasedLockProvider.java
    LOCK_EXPIRE semantics): a lock whose storage mtime is older than
    ``expiry_s`` belongs to a writer that died after acquiring (crashed
    pre-heartbeat, or whose release delete failed) — a waiter deletes it
    and races the conditional create again. Two safeguards keep live
    holders safe: (a) the HOLDER refreshes the lock's mtime from a daemon
    thread every ``expiry_s/3``, so a live lock is never observed stale
    no matter how long the critical section runs; (b) the waiter
    re-reads the mtime immediately before the evicting delete. The
    residual race — another holder's create landing in the microseconds
    between that re-read and the delete — is inherent to any
    check-then-delete protocol without a conditional DELETE (the
    reference's FileSystemBasedLockProvider carries the same window) and
    shrinks with ``expiry_s``; keep it generous. The mtime is read
    through the AtomicStorage seam; an adapter without ``mtime`` support
    disables reclamation (safe: a dead lock then waits for an operator,
    never the reverse)."""

    def __init__(self, base_path: str, timeout_s: float = 60.0,
                 expiry_s: float | None = 600.0):
        self.path = os.path.join(base_path, ".hoodie", ".lock")
        self.timeout_s = timeout_s
        self.expiry_s = expiry_s
        self._refresher: threading.Thread | None = None
        self._stop = threading.Event()

    def _mtime(self) -> float | None:
        from . import storage

        try:
            return storage.ATOMIC.mtime(self.path)
        except NotImplementedError:
            return None
        except Exception:
            return None

    def _reclaim_if_expired(self) -> bool:
        from . import storage

        if self.expiry_s is None:
            return False
        mt = self._mtime()
        if mt is None or time.time() - mt <= self.expiry_s:
            return False  # gone, fresh, or mtime unsupported — no eviction
        try:
            storage.ATOMIC.delete_if_exists(self.path)
        except Exception:
            return False
        return True

    def _start_refresher(self):
        if self.expiry_s is None:
            return
        from . import storage

        interval = self.expiry_s / 3.0
        self._stop.clear()

        def run():  # touch the lock so a live holder never looks stale
            while not self._stop.wait(interval):
                try:
                    storage.ATOMIC.put_atomic(self.path, b"")
                except Exception:
                    pass  # refresh is best-effort; expiry is generous

        self._refresher = threading.Thread(target=run, daemon=True,
                                           name="hoodie-lock-refresh")
        self._refresher.start()

    def __enter__(self):
        # the other storage-atomicity dependency (storage.AtomicStorage):
        # acquire must be a true conditional create, never exists-then-put
        from . import storage

        deadline = time.time() + self.timeout_s
        while True:
            if storage.ATOMIC.put_if_absent(self.path, b""):
                self._start_refresher()
                return self
            if self._reclaim_if_expired():
                continue  # stale holder evicted — race the create again
            if time.time() > deadline:
                raise TimeoutError(f"could not acquire table lock {self.path}")
            time.sleep(0.05)

    def __exit__(self, *exc):
        # release through the same adapter that acquired: an object-store
        # deployment deletes via the store API, never a local os.remove.
        # A failed release must NOT mask an in-flight exception from the
        # with-block body — the leaked lock is recoverable (heartbeat /
        # expiry reclamation), a swallowed body exception is not.
        from . import storage

        if self._refresher is not None:
            self._stop.set()
            # wait out an IN-FLIGHT refresh put before deleting: a touch
            # landing after the delete would resurrect the lock and wedge
            # the next writer until expiry reclamation
            self._refresher.join(timeout=10.0)
            self._refresher = None
        try:
            storage.ATOMIC.delete_if_exists(self.path)
        except Exception as e:  # pragma: no cover - transient store errors
            logger.warning(
                "lock release failed for %s (%s); lock left for expiry reclamation",
                self.path, e)
        return False
