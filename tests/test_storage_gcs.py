"""GCS adapters for the storage seams, driven by in-memory fakes that
enforce the real GCS generation-match protocol (upload with
``if_generation_match=0`` → 412 PreconditionFailed on existing objects,
delete → 404 NotFound when already gone). The local-backed variant then
runs the full table + incremental-dedup lifecycle through the adapters —
the same proof the S3 suite gives, over the GCS API shape."""

import os

import pytest

from hoodie_spark import HoodieTable
from hoodie_spark import storage as st
from hoodie_spark import timeline as tl
from hoodie_spark.storage_gcs import GCSAtomicStorage, GCSStorage

SF_DIR = "/root/testdata/sf0.001"


class _ApiError(Exception):
    def __init__(self, code):
        self.code = code
        super().__init__(str(code))


class FakeBlob:
    def __init__(self, store, calls, bucket, name):
        self._store = store  # dict[(bucket, key)] -> bytes
        self._calls = calls
        self._bucket = bucket
        self.name = name
        self.updated = None
        self.size = None

    def _key(self):
        return (self._bucket, self.name)

    def upload_from_string(self, data, if_generation_match=None):
        self._calls.append(("upload", self.name, if_generation_match))
        if if_generation_match == 0 and self._key() in self._store:
            raise _ApiError(412)
        self._store[self._key()] = (data.encode()
                                    if isinstance(data, str) else bytes(data))

    def delete(self):
        self._calls.append(("delete", self.name))
        if self._key() not in self._store:
            raise _ApiError(404)
        del self._store[self._key()]

    def exists(self):
        self._calls.append(("exists", self.name))
        return self._key() in self._store

    def reload(self):
        if self._key() not in self._store:
            raise _ApiError(404)
        import datetime
        self.updated = datetime.datetime.now(datetime.timezone.utc)
        self.size = len(self._store[self._key()])

    def download_as_bytes(self):
        self._calls.append(("get", self.name))
        if self._key() not in self._store:
            raise _ApiError(404)
        return self._store[self._key()]


class FakeBucket:
    def __init__(self, client, name):
        self._client = client
        self.name = name

    def blob(self, key):
        return self._client._blob_cls(self._client.objects,
                                      self._client.calls, self.name, key)

    def copy_blob(self, blob, dst_bucket, new_name=None):
        self._client.calls.append(("copy", blob.name, new_name))
        self._client._copy((self.name, blob.name),
                           (dst_bucket.name, new_name or blob.name))


class _BlobList(list):
    """list_blobs result: iterable of blobs plus the .prefixes set the
    real HTTPIterator exposes after consumption."""

    def __init__(self, blobs, prefixes):
        super().__init__(blobs)
        self.prefixes = prefixes


class FakeGCSClient:
    """In-memory GCS honoring the generation-match protocol."""

    _blob_cls = FakeBlob

    def __init__(self):
        self.objects: dict[tuple[str, str], bytes] = {}
        self.calls: list[tuple] = []

    def bucket(self, name):
        return FakeBucket(self, name)

    def _copy(self, src, dst):
        if src not in self.objects:
            raise _ApiError(404)
        self.objects[dst] = self.objects[src]

    def list_blobs(self, bucket, prefix="", delimiter=None):
        self.calls.append(("list", prefix))
        name = bucket if isinstance(bucket, str) else bucket.name
        keys = sorted(k for (b, k) in self.objects
                      if b == name and k.startswith(prefix))
        blobs, prefixes = [], set()
        for k in keys:
            rest = k[len(prefix):]
            if delimiter and delimiter in rest:
                prefixes.add(prefix + rest.split(delimiter, 1)[0] + delimiter)
            else:
                blobs.append(self._blob_cls(self.objects, self.calls,
                                            name, k))
        return _BlobList(blobs, prefixes)


class LocalBlob(FakeBlob):
    """Blob whose object lands on the local filesystem at its key — lets
    the whole engine run while every control-plane op is a GCS API
    call (mirror of the S3 suite's LocalBackedS3Client)."""

    def upload_from_string(self, data, if_generation_match=None):
        self._calls.append(("upload", self.name, if_generation_match))
        if if_generation_match == 0 and os.path.exists(self.name):
            raise _ApiError(412)
        os.makedirs(os.path.dirname(self.name), exist_ok=True)
        mode = "w" if isinstance(data, str) else "wb"
        with open(self.name, mode) as f:
            f.write(data)

    def delete(self):
        self._calls.append(("delete", self.name))
        try:
            os.remove(self.name)
        except FileNotFoundError:
            raise _ApiError(404)
        except IsADirectoryError:
            pass

    def exists(self):
        self._calls.append(("exists", self.name))
        return os.path.exists(self.name)

    def reload(self):
        if not os.path.exists(self.name):
            raise _ApiError(404)
        import datetime
        self.updated = datetime.datetime.fromtimestamp(
            os.path.getmtime(self.name), datetime.timezone.utc)
        self.size = (os.path.getsize(self.name)
                     if os.path.isfile(self.name) else 0)

    def download_as_bytes(self):
        self._calls.append(("get", self.name))
        if not os.path.isfile(self.name):
            raise _ApiError(404)
        with open(self.name, "rb") as f:
            return f.read()


class LocalBackedGCSClient(FakeGCSClient):
    _blob_cls = LocalBlob

    def _copy(self, src, dst):
        import shutil as _sh
        if not os.path.isfile(src[1]):
            raise _ApiError(404)
        os.makedirs(os.path.dirname(dst[1]), exist_ok=True)
        _sh.copyfile(src[1], dst[1])

    def list_blobs(self, bucket, prefix="", delimiter=None):
        self.calls.append(("list", prefix))
        name = bucket if isinstance(bucket, str) else bucket.name
        blobs, prefixes = [], set()
        d = prefix.rstrip("/")
        if delimiter == "/":
            if os.path.isdir(d):
                for e in sorted(os.listdir(d)):
                    p = os.path.join(d, e)
                    if os.path.isdir(p):
                        prefixes.add(d + "/" + e + "/")
                    else:
                        blobs.append(LocalBlob(self.objects, self.calls,
                                               name, p))
        else:
            for dirpath, dirnames, files in os.walk(d):
                dirnames.sort()
                for fn in sorted(files):
                    blobs.append(LocalBlob(self.objects, self.calls, name,
                                           os.path.join(dirpath, fn)))
        return _BlobList(blobs, prefixes)


def test_primitives_follow_gcs_protocol():
    c = FakeGCSClient()
    g = GCSAtomicStorage(client=c)
    g.put_atomic("gs://b/t/.hoodie/1.commit.completed.json", b"{}")
    assert c.objects[("b", "t/.hoodie/1.commit.completed.json")] == b"{}"
    # conditional create: generation-match-0 — first wins, second 412s
    assert g.put_if_absent("gs://b/t/.hoodie/.lock", b"") is True
    assert g.put_if_absent("gs://b/t/.hoodie/.lock", b"") is False
    assert ("upload", "t/.hoodie/.lock", 0) in c.calls
    # idempotent delete with advisory existed flag (404 -> False)
    assert g.delete_if_exists("gs://b/t/.hoodie/.lock") is True
    assert g.delete_if_exists("gs://b/t/.hoodie/.lock") is False
    # default-bucket mode for non-URI paths
    gb = GCSAtomicStorage(bucket="warehouse", client=c)
    gb.put_atomic("/tables/t/.hoodie/x.json", b"1")
    assert ("warehouse", "tables/t/.hoodie/x.json") in c.objects
    with pytest.raises(ValueError, match="no default bucket"):
        GCSAtomicStorage(client=c).put_atomic("/plain/path", b"")


def test_mtime_and_fs_seam_protocol():
    c = FakeGCSClient()
    g = GCSAtomicStorage(client=c)
    fs = GCSStorage(client=c)
    assert g.mtime("gs://b/missing") is None
    assert fs.read_bytes("gs://b/missing") is None
    g.put_atomic("gs://b/t/state/a.json", b"x")
    g.put_atomic("gs://b/t/state/sub/b.json", b"y")
    import time
    assert abs(g.mtime("gs://b/t/state/a.json") - time.time()) < 5
    assert fs.read_bytes("gs://b/t/state/a.json") == b"x"
    assert fs.listdir("gs://b/t/state") == ["a.json", "sub"]
    assert fs.listdir("gs://b/t/nothing") == []
    assert fs.exists("gs://b/t/state/a.json")
    assert fs.size("gs://b/t/state/a.json") == 1
    fs.rename("gs://b/t/state/a.json", "gs://b/t/state/c.json")
    assert fs.read_bytes("gs://b/t/state/c.json") == b"x"
    assert not fs.exists("gs://b/t/state/a.json")
    fs.rmtree("gs://b/t/state")
    assert fs.listdir("gs://b/t/state") == []


def test_unexpected_errors_propagate():
    class Flaky(FakeBlob):
        def upload_from_string(self, data, if_generation_match=None):
            raise _ApiError(503)

    c = FakeGCSClient()
    c._blob_cls = Flaky
    g = GCSAtomicStorage(client=c)
    with pytest.raises(_ApiError):
        g.put_if_absent("gs://b/k", b"")


@pytest.fixture()
def gcs_seams():
    client = LocalBackedGCSClient()
    orig_a, orig_f = st.ATOMIC, st.FS

    def key(p):
        return ("local", p)

    st.ATOMIC = GCSAtomicStorage(client=client, path_to_key=key)
    st.FS = GCSStorage(client=client, path_to_key=key)
    yield client
    st.ATOMIC, st.FS = orig_a, orig_f


def test_full_lifecycle_through_gcs_adapter(spark, orders, tmp_table_path,
                                            gcs_seams):
    """create → bulk_insert → upsert → delete → snapshot/incremental +
    two-writer lock race + a 2-batch incremental-dedup run with a
    generation compact — every commit publish, lock op, state read/list
    issued as GCS API calls (the S3 suite's proof, over GCS)."""
    from pyspark.sql import functions as F

    from hoodie_spark import functions as HF
    from hoodie_spark.streaming import IncrementalDeduper

    tbl = HoodieTable.create(spark, tmp_table_path, "gcs_t",
                             ["o_orderkey"], "o_orderdate")
    assert isinstance(tbl.storage, GCSStorage)
    tbl.bulk_insert(orders.limit(200))
    tbl.upsert(orders.limit(50).withColumn("o_orderstatus", F.lit("X")))
    tbl.delete(orders.limit(10).select("o_orderkey"))
    assert tbl.snapshot().count() == 190
    assert tbl.snapshot().filter("o_orderstatus = 'X'").count() == 40
    c1 = tbl.timeline.completed()[0].timestamp
    assert tbl.incremental(begin=c1).count() > 0
    uploads = [k for (op, k, *_) in gcs_seams.calls if op == "upload"]
    assert any(k.endswith(".completed.json") for k in uploads)
    # two-writer lock race over the generation-match protocol
    a = tl.LockProvider(tmp_table_path, timeout_s=5)
    b = tl.LockProvider(tmp_table_path, timeout_s=0.3)
    with a:
        with pytest.raises(TimeoutError):
            b.__enter__()
    with b:
        pass
    lock_key = os.path.join(tmp_table_path, ".hoodie", ".lock")
    assert ("upload", lock_key, 0) in gcs_seams.calls
    assert ("delete", lock_key) in gcs_seams.calls
    # incremental dedup state lifecycle over the GCS seam
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 30))
    dup = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    dtbl_path = tmp_table_path + "_docs"
    dtbl = HoodieTable.create(spark, dtbl_path, "gcs_docs",
                              ["doc_id"], None)
    dd = IncrementalDeduper(dtbl, "doc_id", "text", threshold=0.8)
    for b_ in (docs, dup):
        dtbl.upsert(dd.filter_batch(b_))
        dd.advance(b_)
    assert dd.compact_state() > 0  # generation swap over GCS calls
    got = {r.doc_id for r in dtbl.snapshot().select("doc_id").collect()}
    expected = {r.doc_id for r in HF.seen_dedup(
        docs.unionByName(dup), "doc_id", "text",
        threshold=0.8).select("doc_id").collect()}
    assert got == expected and not any(i >= 10000 for i in got)
    assert any(op == "list" and "dedup_state" in k
               for (op, k, *_) in gcs_seams.calls)
    import shutil
    shutil.rmtree(dtbl_path, ignore_errors=True)


def test_control_plane_services_through_gcs_seam(spark, orders,
                                                 tmp_table_path, gcs_seams):
    """Mirror of the S3 services sweep: archive chunks, secondary index,
    record-index generations and ANALYZE sidecars with every control-plane
    op a GCS API call."""
    from pyspark.sql import functions as F

    from hoodie_spark import record_index, secondary_index
    from hoodie_spark.config import WriteConfig
    from hoodie_spark.services.stats import compact_sidecars

    tbl = HoodieTable.create(
        spark, tmp_table_path, "gcs_ctl", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(record_index=True))
    base = orders.limit(300)
    tbl.bulk_insert(base)
    for k in (3, 5):
        tbl.upsert(base.filter(F.col("o_orderkey") % k == 0)
                   .withColumn("o_orderstatus", F.lit(f"A{k}")))
    assert tbl.archive(max_active=2) >= 1
    assert any(op == "upload" and "/archived/chunk-" in k
               for (op, k, *_) in gcs_seams.calls)
    assert tbl.snapshot().count() == 300
    tbl.create_secondary_index("o_orderstatus")
    hits = secondary_index.lookup_groups(
        tbl, "o_orderstatus",
        spark.createDataFrame([("A3",)], "value string"))
    assert hits
    assert secondary_index.compact(tbl, "o_orderstatus") > 0
    assert record_index.compact(tbl, retain_commits=1) > 0
    assert record_index.lookup(tbl).count() == 300
    assert tbl.analyze(["o_totalprice"]) > 0
    assert compact_sidecars(tbl) > 0
    assert any(op == "list" and "col_stats" in k
               for (op, k, *_) in gcs_seams.calls)


def test_gcs_remove_maps_404_to_filenotfound():
    from test_storage_gcs import FakeGCSClient

    c = FakeGCSClient()
    fs = GCSStorage(client=c)
    with pytest.raises(FileNotFoundError):
        fs.remove("gs://b/never/was/here")
    # and an `except OSError` guard (the engine's tolerant callers) works
    try:
        fs.remove("gs://b/also/missing")
    except OSError:
        pass
