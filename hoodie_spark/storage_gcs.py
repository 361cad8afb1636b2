"""GCS adapters for the engine's two storage seams.

The Google Cloud Storage twins of :mod:`hoodie_spark.storage_s3`, using
only published GCS semantics (the ``google-cloud-storage`` client
surface / JSON API preconditions):

- ``put_atomic``  → a single object upload. GCS object writes are atomic
  and strongly consistent: readers observe the old generation, the new
  generation, or 404 — never a torn body.
- ``put_if_absent`` → upload with ``if_generation_match=0`` (the JSON
  API's ``ifGenerationMatch=0`` / XML ``x-goog-if-generation-match: 0``):
  generation 0 means "no live object", so the upload fails with HTTP 412
  ``PreconditionFailed`` when the key already exists — the same
  object-store-native conditional create the S3 adapter gets from
  ``IfNoneMatch="*"``, standing in for the reference's
  ZookeeperBasedLockProvider (hudi-client/hudi-client-common/src/main/
  java/org/apache/hudi/client/transaction/lock/ZookeeperBasedLockProvider.java).
- ``delete_if_exists`` → ``Blob.delete`` (idempotent from the caller's
  perspective: a 404 maps to "was already gone").

:class:`GCSStorage` maps the plain filesystem seam the same way the S3
variant does: a directory is a key prefix, ``listdir`` is
``list_blobs(prefix=…, delimiter="/")``, ``rename`` degrades to
copy+delete (safe — visibility is manifest-based, see storage.py), reads
are whole-object downloads.

``google-cloud-storage`` is not bundled everywhere, so the import is
deferred to construction; any client whose ``bucket(name)`` returns
objects with ``blob(key)`` / ``list_blobs`` shaped like the public
library can be injected (tests inject an in-memory fake that honors the
generation-match protocol, plus a local-backed one that lets the whole
engine lifecycle run over GCS API calls).

Paths: the engine builds paths with ``os.path.join`` from the table's
``base_path``. Point ``base_path`` at ``gs://bucket/prefix`` and these
adapters parse bucket/key from each path; a custom ``path_to_key``
callable supports other layouts.
"""

from __future__ import annotations

from typing import Callable

from .storage import AtomicStorage, Storage


def _is_precondition_failed(exc: Exception) -> bool:
    """google.api_core.exceptions.PreconditionFailed carries ``code=412``;
    duck-typed so fakes (and a missing google-cloud-storage) work."""
    return getattr(exc, "code", None) == 412 or \
        type(exc).__name__ == "PreconditionFailed"


def _is_not_found(exc: Exception) -> bool:
    return getattr(exc, "code", None) == 404 or \
        type(exc).__name__ == "NotFound"


class _GCSPaths:
    """bucket/key resolution shared by both GCS adapters."""

    def __init__(self, bucket: str | None, client,
                 path_to_key: Callable[[str], tuple[str, str]] | None):
        if client is None:  # pragma: no cover - needs live GCP credentials
            from google.cloud import storage as gcs  # deferred import

            client = gcs.Client()
        self.client = client
        self.bucket = bucket
        self.path_to_key = path_to_key or self._parse_uri

    def _parse_uri(self, path: str) -> tuple[str, str]:
        if path.startswith("gs://"):
            bucket, _, key = path[len("gs://"):].partition("/")
            return bucket, key
        if self.bucket is None:
            raise ValueError(
                f"not a gs:// path and no default bucket configured: {path}")
        return self.bucket, path.lstrip("/")

    def _blob(self, path: str):
        bucket, key = self.path_to_key(path)
        return self.client.bucket(bucket).blob(key)


class GCSAtomicStorage(_GCSPaths, AtomicStorage):
    """AtomicStorage over the GCS API."""

    def __init__(self, bucket: str | None = None, client=None,
                 path_to_key: Callable[[str], tuple[str, str]] | None = None):
        _GCSPaths.__init__(self, bucket, client, path_to_key)

    def put_atomic(self, path: str, payload: bytes) -> None:
        # one whole-object upload — atomic by the GCS consistency model
        self._blob(path).upload_from_string(payload)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        try:
            # generation 0 = "only if no live object": true conditional
            # create, enforced server-side (no exists()-then-put race)
            self._blob(path).upload_from_string(payload,
                                                if_generation_match=0)
        except Exception as e:
            if _is_precondition_failed(e):
                return False
            raise
        return True

    def delete_if_exists(self, path: str) -> bool:
        try:
            self._blob(path).delete()
        except Exception as e:
            if _is_not_found(e):
                return False
            raise
        return True

    def mtime(self, path: str) -> float | None:
        blob = self._blob(path)
        try:
            blob.reload()
        except Exception as e:
            if _is_not_found(e):
                return None
            raise
        return blob.updated.timestamp() if blob.updated else None


class GCSStorage(_GCSPaths, Storage):
    """The plain filesystem seam (``storage.Storage``) over the GCS API —
    listings, existence probes, deletes, renames (copy+delete) and
    small-object reads for control-plane state, mirroring
    :class:`hoodie_spark.storage_s3.S3Storage`."""

    def __init__(self, bucket: str | None = None, client=None,
                 path_to_key: Callable[[str], tuple[str, str]] | None = None):
        _GCSPaths.__init__(self, bucket, client, path_to_key)

    def listdir(self, path: str) -> list[str]:
        bucket, key = self.path_to_key(path)
        prefix = key.rstrip("/") + "/"
        it = self.client.list_blobs(bucket, prefix=prefix, delimiter="/")
        names = {b.name[len(prefix):] for b in it if b.name != prefix}
        # the iterator's .prefixes populates only after consumption
        names |= {p[len(prefix):].rstrip("/")
                  for p in getattr(it, "prefixes", set())}
        return sorted(n for n in names if n)

    def walk(self, path: str, skip: str) -> list[str]:
        bucket, key = self.path_to_key(path)
        prefix = key.rstrip("/") + "/"
        rels = [b.name[len(prefix):]
                for b in self.client.list_blobs(bucket, prefix=prefix)]
        # a key ending in "/" is a directory marker, not a file
        return sorted(r for r in rels if r and not r.endswith("/")
                      and skip not in r.split("/")[:-1])

    def makedirs(self, path: str) -> None:
        pass  # prefixes need no creation

    def rename(self, src: str, dst: str) -> None:
        sb, sk = self.path_to_key(src)
        db, dk = self.path_to_key(dst)
        src_bucket = self.client.bucket(sb)
        blob = src_bucket.blob(sk)
        src_bucket.copy_blob(blob, self.client.bucket(db), new_name=dk)
        blob.delete()

    def remove(self, path: str) -> None:
        try:
            self._blob(path).delete()
        except Exception as e:
            # Storage.remove contract: missing file -> FileNotFoundError
            # (OSError), matching LocalStorage — google's NotFound is not
            # an OSError, so callers' `except OSError` guards would abort
            if _is_not_found(e):
                raise FileNotFoundError(path) from e
            raise

    def rmtree(self, path: str) -> None:
        bucket, key = self.path_to_key(path)
        prefix = key.rstrip("/") + "/"
        for b in list(self.client.list_blobs(bucket, prefix=prefix)):
            try:
                b.delete()
            except Exception as e:
                if not _is_not_found(e):
                    raise

    def exists(self, path: str) -> bool:
        return bool(self._blob(path).exists())

    def size(self, path: str) -> int:
        blob = self._blob(path)
        blob.reload()
        return int(blob.size)

    def read_bytes(self, path: str) -> bytes | None:
        try:
            return self._blob(path).download_as_bytes()
        except Exception as e:
            if _is_not_found(e):
                return None
            raise
