"""S3 adapters for the engine's two storage seams.

:class:`S3AtomicStorage` maps the three ATOMIC primitives (see
``storage.AtomicStorage``) and :class:`S3Storage` maps the plain
filesystem seam (``storage.Storage`` — listings, existence probes,
deletes, small-object reads) onto the S3 API, using only published S3
semantics. Swap both module globals (``storage.ATOMIC`` and
``storage.FS``) and the control plane — commit publish, locks, dedup
state, sweeps — runs over S3 calls; the data plane (parquet scans and
writes) goes through Spark's own Hadoop s3a / pyarrow filesystem layer
and needs no adapter here.

Atomic-primitive mapping:

- ``put_atomic``  → a single ``PutObject``. One PUT is atomic by the S3
  consistency contract: readers observe the old object, the new object, or
  404 — never a torn body. No temp + rename needed (S3 has no rename).
- ``put_if_absent`` → ``PutObject`` with ``IfNoneMatch="*"`` — S3's
  conditional write (GA since 2024): the PUT fails with HTTP 412
  ``PreconditionFailed`` when the key already exists, which makes the
  table lock a true cross-host conditional create, the object-store-native
  equivalent of the reference's ZookeeperBasedLockProvider
  (hudi-client/hudi-client-common/src/main/java/org/apache/hudi/client/
  transaction/lock/ZookeeperBasedLockProvider.java). On GCS the same
  primitive is ``x-goog-if-generation-match: 0``.
- ``delete_if_exists`` → ``DeleteObject`` (idempotent by contract; a HEAD
  supplies the best-effort "was it there" return value, which no caller
  uses for correctness).

boto3 is not bundled in every deployment, so the import is deferred to
construction; any client object implementing ``put_object`` /
``delete_object`` / ``head_object`` with botocore-shaped ``ClientError``
responses can be injected instead (tests inject an in-memory fake that
honors the conditional-write protocol).

Paths: the engine builds paths with ``os.path.join`` from the table's
``base_path``. Point ``base_path`` at ``s3://bucket/prefix`` and this
adapter parses bucket/key from each path; a custom ``path_to_key``
callable supports other layouts (tests map keys straight onto a local
directory so the full engine lifecycle can run over the S3 protocol).
"""

from __future__ import annotations

from typing import Callable

from .storage import AtomicStorage, Storage


def _error_code(exc: Exception) -> str:
    """botocore ClientError carries the service error under
    ``e.response["Error"]["Code"]``; duck-typed so fakes (and a missing
    botocore) work."""
    try:
        return str(exc.response["Error"]["Code"])  # type: ignore[attr-defined]
    except Exception:
        return ""


class S3AtomicStorage(AtomicStorage):
    """AtomicStorage over the S3 API (or any S3-compatible store that
    supports conditional writes — MinIO, R2, GCS via the XML API)."""

    def __init__(self, bucket: str | None = None, client=None,
                 path_to_key: Callable[[str], tuple[str, str]] | None = None):
        if client is None:  # pragma: no cover - needs a live AWS session
            import boto3  # deferred: not bundled everywhere

            client = boto3.client("s3")
        self.client = client
        self.bucket = bucket
        self.path_to_key = path_to_key or self._parse_uri

    def _parse_uri(self, path: str) -> tuple[str, str]:
        if path.startswith("s3://"):
            bucket, _, key = path[len("s3://"):].partition("/")
            return bucket, key
        if self.bucket is None:
            raise ValueError(
                f"not an s3:// path and no default bucket configured: {path}")
        return self.bucket, path.lstrip("/")

    # ------------------------------------------------------------ contract
    def put_atomic(self, path: str, payload: bytes) -> None:
        bucket, key = self.path_to_key(path)
        # single whole-object PUT — atomic by the S3 consistency model
        self.client.put_object(Bucket=bucket, Key=key, Body=payload)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        bucket, key = self.path_to_key(path)
        try:
            self.client.put_object(Bucket=bucket, Key=key, Body=payload,
                                   IfNoneMatch="*")
        except Exception as e:
            # 412: the key already exists. 409 ConditionalRequestConflict:
            # a CONCURRENT conditional write raced this one — the loser
            # must treat it as "did not acquire" and let the caller's
            # retry loop observe the outcome, not crash.
            if _error_code(e) in ("PreconditionFailed", "412",
                                  "ConditionalRequestConflict", "409"):
                return False
            raise
        return True

    def delete_if_exists(self, path: str) -> bool:
        bucket, key = self.path_to_key(path)
        existed = True
        try:
            self.client.head_object(Bucket=bucket, Key=key)
        except Exception as e:
            if _error_code(e) in ("404", "NoSuchKey", "NotFound"):
                existed = False
            # HEAD failures other than 404: proceed to delete anyway —
            # the delete is the operation that matters, HEAD only feeds
            # the advisory return value
        self.client.delete_object(Bucket=bucket, Key=key)
        return existed

    def mtime(self, path: str) -> float | None:
        bucket, key = self.path_to_key(path)
        try:
            resp = self.client.head_object(Bucket=bucket, Key=key)
        except Exception as e:
            if _error_code(e) in ("404", "NoSuchKey", "NotFound"):
                return None
            raise
        lm = resp.get("LastModified") if isinstance(resp, dict) else None
        return lm.timestamp() if lm is not None else None


class S3Storage(Storage):
    """The plain filesystem seam (``storage.Storage``) over the S3 API —
    the read-side companion of :class:`S3AtomicStorage`, covering
    listings, existence probes, deletes, renames and small-object reads
    for control-plane state (dedup generations, sweeps, bulk-move
    finalize). Directory semantics per the Storage contract: a directory
    is a key prefix, ``listdir`` of a missing prefix is ``[]``,
    ``makedirs`` is a no-op, ``rename`` degrades to copy+delete (safe at
    its call sites — visibility is manifest-based, see storage.py).

    Needs a client with ``list_objects_v2`` / ``get_object`` /
    ``head_object`` / ``copy_object`` / ``delete_object`` (boto3-shaped;
    tests inject a local-backed fake so the whole engine lifecycle runs
    over the protocol)."""

    def __init__(self, bucket: str | None = None, client=None,
                 path_to_key: Callable[[str], tuple[str, str]] | None = None):
        if client is None:  # pragma: no cover - needs a live AWS session
            import boto3

            client = boto3.client("s3")
        self.client = client
        self.bucket = bucket
        self.path_to_key = path_to_key or \
            S3AtomicStorage._parse_uri.__get__(self)

    # --------------------------------------------------------------- list
    def _list_page(self, bucket: str, prefix: str, token=None) -> dict:
        kw = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
        if token:
            kw["ContinuationToken"] = token
        return self.client.list_objects_v2(**kw)

    def listdir(self, path: str) -> list[str]:
        bucket, key = self.path_to_key(path)
        prefix = key.rstrip("/") + "/"
        names, token = set(), None
        while True:
            resp = self._list_page(bucket, prefix, token)
            for cp in resp.get("CommonPrefixes", []) or []:
                names.add(cp["Prefix"][len(prefix):].rstrip("/"))
            for obj in resp.get("Contents", []) or []:
                rest = obj["Key"][len(prefix):]
                if rest:
                    names.add(rest)
            if not resp.get("IsTruncated"):
                return sorted(names)
            token = resp.get("NextContinuationToken")

    def _keys_under(self, bucket: str, prefix: str) -> list[str]:
        keys, token = [], None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            keys += [o["Key"] for o in resp.get("Contents", []) or []]
            if not resp.get("IsTruncated"):
                return keys
            token = resp.get("NextContinuationToken")

    def walk(self, path: str, skip: str) -> list[str]:
        bucket, key = self.path_to_key(path)
        prefix = key.rstrip("/") + "/"
        rels = [k[len(prefix):] for k in self._keys_under(bucket, prefix)]
        # a key ending in "/" is a directory marker, not a file
        return sorted(r for r in rels if r and not r.endswith("/")
                      and skip not in r.split("/")[:-1])

    # ------------------------------------------------------------ mutation
    def makedirs(self, path: str) -> None:
        pass  # prefixes need no creation

    def rename(self, src: str, dst: str) -> None:
        # single-object rename = server-side copy + delete; every engine
        # call site publishes visibility via the commit manifest, so the
        # non-atomicity is safe (storage.py module docstring)
        sb, sk = self.path_to_key(src)
        db, dk = self.path_to_key(dst)
        self.client.copy_object(Bucket=db, Key=dk,
                                CopySource={"Bucket": sb, "Key": sk})
        self.client.delete_object(Bucket=sb, Key=sk)

    def remove(self, path: str) -> None:
        bucket, key = self.path_to_key(path)
        self.client.delete_object(Bucket=bucket, Key=key)

    def rmtree(self, path: str) -> None:
        bucket, key = self.path_to_key(path)
        for k in self._keys_under(bucket, key.rstrip("/") + "/"):
            self.client.delete_object(Bucket=bucket, Key=k)

    # -------------------------------------------------------------- probes
    def exists(self, path: str) -> bool:
        bucket, key = self.path_to_key(path)
        try:
            self.client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception as e:
            if _error_code(e) in ("404", "NoSuchKey", "NotFound"):
                return False
            raise

    def size(self, path: str) -> int:
        bucket, key = self.path_to_key(path)
        resp = self.client.head_object(Bucket=bucket, Key=key)
        return int(resp["ContentLength"])

    def read_bytes(self, path: str) -> bytes | None:
        bucket, key = self.path_to_key(path)
        try:
            resp = self.client.get_object(Bucket=bucket, Key=key)
        except Exception as e:
            if _error_code(e) in ("404", "NoSuchKey", "NotFound"):
                return None
            raise
        body = resp["Body"]
        return body.read() if hasattr(body, "read") else bytes(body)
