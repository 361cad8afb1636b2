"""Storage abstraction for table-directory mutations.

Reference parity: FSUtils.java / HoodieWrapperFileSystem — every file
mutation in the reference goes through a FileSystem facade so the same
write client runs on HDFS, S3, GCS, local disk. Here the hot-path
mutations (:meth:`WriteClient._write_files` finalize, cleaner deletes,
rollback deletes) go through this seam; a cluster deployment implements
the same interface over an object store and nothing above it changes.

Correctness note for non-atomic-rename stores (S3): visibility in this
design is MANIFEST-based — readers list files from the commit JSON, never
from directory listings — so ``rename`` degrading to copy+delete is safe:
a half-finalized file is simply never referenced until the commit
publishes.
"""

from __future__ import annotations

import os
import shutil


class Storage:
    """Minimal filesystem interface; paths are plain strings.

    Directory semantics on object stores: a "directory" is a key prefix.
    ``listdir`` of a missing path returns ``[]`` (callers treat missing
    and empty alike — nobody distinguishes them), ``makedirs`` may be a
    no-op, and ``rename`` may degrade to copy+delete (safe everywhere it
    is used: bulk-insert tmp moves publish via the commit manifest, so a
    half-moved file is never referenced)."""

    def listdir(self, path: str) -> list[str]:
        """Immediate children of ``path`` (sorted); [] when missing."""
        raise NotImplementedError

    def walk(self, path: str, skip: str) -> list[str]:
        """Every file below ``path`` as sorted paths relative to it, not
        descending into directories named ``skip``; [] when missing."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Delete one file. Missing-file contract: raises
        ``FileNotFoundError`` (an ``OSError``) when the path does not
        exist — callers that tolerate already-gone files (crash
        recovery, heartbeat stop, sidecar sweeps) guard with
        ``except OSError``. Backends must map their native missing-key
        signal (GCS ``NotFound``, local ``FileNotFoundError``) to this;
        S3's DeleteObject succeeds silently on a missing key, which
        satisfies the contract (no error is also tolerated)."""
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes | None:
        """Whole-object read; None when the path does not exist. The
        read-side companion of ``AtomicStorage.put_atomic`` for small
        control files (generation-store pointers) that must be readable on
        the same backend their writes target."""
        raise NotImplementedError


class LocalStorage(Storage):
    """POSIX backend (the test/runtime default): atomic rename, recursive
    delete via shutil."""

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def walk(self, path: str, skip: str) -> list[str]:
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != skip]
            out += [os.path.relpath(os.path.join(root, f), path)
                    for f in files]
        return sorted(out)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def read_bytes(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None


LOCAL = LocalStorage()

#: the active filesystem seam — tables constructed without an explicit
#: ``storage=`` pick this up, so a deployment swaps ONE global (plus
#: :data:`ATOMIC`) to move every control-plane file operation onto an
#: object store. Data-plane parquet I/O goes through Spark/Arrow's own
#: filesystem layer (s3a / pyarrow.fs) and needs no seam.
FS: Storage = LOCAL


class AtomicStorage:
    """The atomicity contract a cluster deployment must honor.

    Everything else in this engine is crash-safe WITHOUT storage-level
    atomicity: data/log parquet is invisible until a commit publishes
    (manifest-based visibility, module docstring above) and heartbeats are
    advisory mtimes. The sites that genuinely depend on an atomic
    primitive all route through this interface — commit publish, lock
    acquire/release (below), plus three more whole-object publishes with
    the same all-or-nothing need: **archive chunks** (the chunk must be
    fully visible before the moved active instants are deleted —
    ``Timeline.archive``), **table properties** (a torn properties file
    would break every future load), and the **generation-store pointer**
    (``generation_store.py`` — the pointer swap IS the commit of every
    maintained state and table index). Heartbeat touches also go through
    :meth:`put_atomic`, not for atomicity but because a PUT is the only
    way to bump a store mtime on S3/GCS. The original two:

    * **commit publish** (``Timeline._atomic_write``, reference parity
      ``HoodieActiveTimeline.java:149``) needs :meth:`put_atomic` —
      full-object all-or-nothing visibility. POSIX: temp + rename. Object
      stores: a single PUT is already atomic (readers see the old object,
      the new object, or 404 — never a torn body), so copy-style rename
      is safe here.
    * **multi-writer lock acquire** (``timeline.LockProvider``) needs
      :meth:`put_if_absent` — a CONDITIONAL create that fails when the
      key exists. POSIX: ``O_CREAT|O_EXCL``. S3: ``If-None-Match: *``;
      GCS: ``x-goog-if-generation-match: 0``; both are real conditional
      puts, so cross-HOST OCC works without a Zookeeper dependency
      (the reference ships ``ZookeeperBasedLockProvider.java`` for this;
      conditional-put is the object-store-native equivalent).
    * **lock release** (``LockProvider.__exit__``) needs
      :meth:`delete_if_exists` — a plain idempotent DELETE (no
      atomicity requirement beyond the store's own delete; S3/GCS
      DELETE is idempotent by contract). It lives on this interface so
      the adapter that acquires the lock can also release it — an
      object-store deployment must not fall back to ``os.remove``.

    Swap the module-level :data:`ATOMIC` for an object-store adapter and
    nothing above this seam changes — ``tests/test_storage_atomicity.py``
    proves these three call sites are the only storage-primitive
    dependencies by recording every call through a mock adapter across a
    full multi-writer table lifecycle.
    """

    def put_atomic(self, path: str, payload: bytes) -> None:
        """Publish ``payload`` at ``path`` all-or-nothing (overwrite ok)."""
        raise NotImplementedError

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        """Create ``path`` only if it does not exist; False if it does.
        Must be a true conditional create — exists()-then-put races."""
        raise NotImplementedError

    def delete_if_exists(self, path: str) -> bool:
        """Idempotent delete; False when the key was already gone."""
        raise NotImplementedError

    def mtime(self, path: str) -> float | None:
        """Last-modified time (epoch seconds) of the key, or None when it
        does not exist. ADVISORY: only stale-lock expiry reclamation reads
        it; an adapter that cannot supply it may leave this unimplemented
        and reclamation is disabled (a dead holder's lock then needs an
        operator to clear — correctness is unaffected)."""
        raise NotImplementedError


class LocalAtomicStorage(AtomicStorage):
    """POSIX backend: rename publish + O_EXCL conditional create."""

    def put_atomic(self, path: str, payload: bytes) -> None:
        # temp lives in the DESTINATION dir: rename is only atomic within
        # one filesystem. Timeline listings filter on .json so a
        # crash-orphaned .tmp is invisible to reads; reclamation sweeps
        # aged ones (services/rollback.py)
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".{os.urandom(8).hex()}.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(payload)
                # durability, not just atomicity: archive() deletes the
                # moved active instants right after this publish returns,
                # so on power loss the rename must not be allowed to
                # vanish while the deletes persist (object-store adapters
                # get this for free from the PUT)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
            try:
                dfd = os.open(d, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except OSError:
                pass  # directory fsync unsupported (some filesystems)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, payload)
        finally:
            os.close(fd)
        return True

    def delete_if_exists(self, path: str) -> bool:
        try:
            os.remove(path)
        except FileNotFoundError:
            return False
        return True

    def mtime(self, path: str) -> float | None:
        try:
            return os.path.getmtime(path)
        except OSError:
            return None


#: the active adapter — swap for an object-store implementation in a
#: cluster deployment (see AtomicStorage docstring for the contract)
ATOMIC: AtomicStorage = LocalAtomicStorage()


def relpath_from_uri(uri: str, base: str) -> str:
    """Partition-qualified relative path from an ``input_file_name()`` URI.

    The single normalizer for every keyspace derived from
    ``F.input_file_name`` (write-time expression stats, ANALYZE sidecars):
    both sides must produce identical keys or the fsview stats overlay
    silently stops matching. Never key by basename — bucket-index tables
    write identically named base files in several partitions per commit."""
    from urllib.parse import unquote, urlparse

    p = unquote(urlparse(uri).path) if "://" in uri else uri
    return os.path.relpath(os.path.abspath(p), os.path.abspath(base))
