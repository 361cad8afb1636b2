"""The storage atomicity contract (storage.AtomicStorage): exactly three
sites in the engine depend on a storage primitive from the seam — commit
publish (put_atomic), multi-writer lock acquire (put_if_absent), and lock
release (delete_if_exists). A recording object-store-style adapter
(single-PUT emulation, NO rename available) drives a full multi-writer
table lifecycle to prove (a) nothing else routes around the seam and
(b) rename-style atomicity is not required."""

import os
import time

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import storage as st
from hoodie_spark import timeline as tl
from hoodie_spark.config import WriteConcurrencyMode, WriteConfig

SF_DIR = "/root/testdata/sf0.001"


class RecordingObjectStore(st.AtomicStorage):
    """Emulates an object store: put_atomic is a single whole-object PUT
    (no temp file, no rename — atomic by API contract), put_if_absent is
    a conditional create. Records every call."""

    def __init__(self):
        self.atomic_puts: list[str] = []
        self.conditional_puts: list[str] = []
        self.deletes: list[str] = []

    def put_atomic(self, path, payload):
        self.atomic_puts.append(path)
        with open(path, "wb") as f:  # single PUT: whole object, one shot
            f.write(payload)

    def put_if_absent(self, path, payload):
        self.conditional_puts.append(path)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.close(fd)
        return True

    def delete_if_exists(self, path):
        self.deletes.append(path)
        try:
            os.remove(path)
        except FileNotFoundError:
            return False
        return True


@pytest.fixture()
def recording_store():
    rec = RecordingObjectStore()
    orig = st.ATOMIC
    st.ATOMIC = rec
    yield rec
    st.ATOMIC = orig


def test_two_sites_only_and_no_rename_needed(spark, orders, tmp_table_path,
                                             recording_store):
    """Full lifecycle on the adapter: create, bulk_insert, upsert (OCC
    lock + conflict check), delete, a table service, reads. Every
    put_atomic must be a timeline instant file; every put_if_absent must
    be the table lock. Results stay correct without any rename."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "atomicity", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(
            concurrency_mode=WriteConcurrencyMode.OPTIMISTIC))
    tbl.bulk_insert(orders)
    n = orders.count()
    tbl.upsert(orders.limit(40).withColumn("o_orderstatus", F.lit("A")))
    tbl.delete(orders.limit(5).select("o_orderkey"))
    from hoodie_spark.services.clean import clean
    clean(tbl)
    snap = tbl.snapshot()
    assert snap.count() == n - 5
    assert snap.filter("o_orderstatus = 'A'").count() == 35

    assert recording_store.atomic_puts, "publish never hit the seam"
    meta = os.path.join(tmp_table_path, ".hoodie") + os.sep
    timeline_dir = os.path.join(tmp_table_path, ".hoodie", "timeline")
    hb_dir = os.path.join(tmp_table_path, ".hoodie", ".heartbeat")
    arch_dir = os.path.join(tmp_table_path, ".hoodie", "archived")
    for p in recording_store.atomic_puts:
        assert p.startswith(meta), f"atomic put outside .hoodie: {p}"
        # every atomic put is one of the control-plane publishes: a
        # timeline instant / table properties / dedup watermark (.json),
        # an archive chunk (.jsonl), or a heartbeat touch (which reuses
        # the adapter for its store-mtime side effect, not for atomicity)
        assert (p.endswith(".json") or p.endswith(".jsonl")
                or os.path.dirname(p) == hb_dir
                or os.path.dirname(p) == arch_dir), \
            f"unexpected atomic put: {p}"
    # the publish site really is the timeline (not some side channel)
    assert any(os.path.dirname(p) == timeline_dir or
               os.path.dirname(p) == os.path.join(tmp_table_path, ".hoodie")
               for p in recording_store.atomic_puts)

    assert recording_store.conditional_puts, "lock never hit the seam"
    lock = os.path.join(tmp_table_path, ".hoodie", ".lock")
    assert set(recording_store.conditional_puts) == {lock}
    # release also routes through the adapter (never a bare os.remove),
    # and only ever deletes the lock key
    assert recording_store.deletes, "lock release never hit the seam"
    assert set(recording_store.deletes) == {lock}


def test_conditional_put_contention(tmp_table_path, recording_store):
    """Two writers racing the same lock: exactly one conditional create
    wins; the loser blocks until release, then acquires."""
    os.makedirs(os.path.join(tmp_table_path, ".hoodie"), exist_ok=True)
    a = tl.LockProvider(tmp_table_path, timeout_s=5)
    b = tl.LockProvider(tmp_table_path, timeout_s=0.3)
    with a:
        with pytest.raises(TimeoutError):
            b.__enter__()
    with b:  # released by a's exit — acquirable again
        pass
    assert recording_store.conditional_puts.count(
        os.path.join(tmp_table_path, ".hoodie", ".lock")) >= 3


# ------------------------------------------------- fault injection (r8 #5)
class TornWriteStore(st.LocalAtomicStorage):
    """Adapter that dies mid-publish: half the payload reaches a temp
    object, then the writer crashes. The DESTINATION key must never
    carry a torn body (put_atomic's all-or-nothing contract)."""

    def __init__(self, fail_substr):
        self.fail_substr = fail_substr
        self.tripped = False

    def put_atomic(self, path, payload):
        if self.fail_substr in path and not self.tripped:
            self.tripped = True
            with open(path + ".partial_upload", "wb") as f:
                f.write(payload[: len(payload) // 2])
            raise OSError("simulated crash mid-payload")
        return super().put_atomic(path, payload)


def test_torn_commit_publish_invisible_to_readers(spark, orders,
                                                  tmp_table_path):
    """put_atomic dies mid-payload while publishing a commit: readers keep
    seeing the pre-crash snapshot, the timeline has no torn instant, and
    the table accepts the retried write afterwards."""
    tbl = HoodieTable.create(spark, tmp_table_path, "torn_t",
                             ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(100))
    before = tbl.snapshot().count()
    orig = st.ATOMIC
    st.ATOMIC = TornWriteStore(".commit.completed.json")
    try:
        with pytest.raises(OSError, match="mid-payload"):
            tbl.upsert(orders.limit(20)
                       .withColumn("o_orderstatus", F.lit("X")))
    finally:
        st.ATOMIC = orig
    # pre-crash state intact; no torn commit surfaced to the timeline
    assert tbl.snapshot().count() == before
    assert tbl.snapshot().filter("o_orderstatus = 'X'").count() == 0
    for inst in tbl.timeline.completed():
        assert tbl.timeline.metadata(inst) is not None  # all parseable
    # the retried write succeeds and lands exactly once
    tbl.upsert(orders.limit(20).withColumn("o_orderstatus", F.lit("X")))
    assert tbl.snapshot().count() == before
    assert tbl.snapshot().filter("o_orderstatus = 'X'").count() == 20


def test_lock_orphaned_by_crash_reclaimed_by_expiry(tmp_table_path):
    """put_if_absent succeeds, then the writer dies before ever touching
    the heartbeat: the orphaned lock must be reclaimed by expiry — and
    must NOT be reclaimed while it is fresh or when expiry is disabled."""
    os.makedirs(os.path.join(tmp_table_path, ".hoodie"), exist_ok=True)
    lock_path = os.path.join(tmp_table_path, ".hoodie", ".lock")
    assert st.ATOMIC.put_if_absent(lock_path, b"")  # dead writer's lock

    # fresh lock: a live holder must never be evicted
    with pytest.raises(TimeoutError):
        tl.LockProvider(tmp_table_path, timeout_s=0.3,
                        expiry_s=600).__enter__()
    # aged past expiry: next waiter reclaims and acquires
    os.utime(lock_path, (1, 1))
    with tl.LockProvider(tmp_table_path, timeout_s=2.0, expiry_s=1.0):
        pass
    assert not os.path.exists(lock_path)
    # expiry disabled: even an ancient lock blocks (operator must clear)
    assert st.ATOMIC.put_if_absent(lock_path, b"")
    os.utime(lock_path, (1, 1))
    with pytest.raises(TimeoutError):
        tl.LockProvider(tmp_table_path, timeout_s=0.3,
                        expiry_s=None).__enter__()
    os.remove(lock_path)


def test_failed_release_recovered_by_expiry(tmp_table_path):
    """delete_if_exists fails during release (transient store error): the
    lock leaks without masking the body's outcome, and a later waiter
    recovers it through expiry reclamation."""

    class FailingDelete(st.LocalAtomicStorage):
        def __init__(self):
            self.fail = True

        def delete_if_exists(self, path):
            if self.fail:
                self.fail = False
                raise OSError("transient delete error")
            return super().delete_if_exists(path)

    os.makedirs(os.path.join(tmp_table_path, ".hoodie"), exist_ok=True)
    lock_path = os.path.join(tmp_table_path, ".hoodie", ".lock")
    orig = st.ATOMIC
    st.ATOMIC = FailingDelete()
    try:
        with tl.LockProvider(tmp_table_path, timeout_s=1.0):
            pass  # release fails internally; no exception escapes
        assert os.path.exists(lock_path)  # leaked
        os.utime(lock_path, (1, 1))  # time passes beyond the expiry
        with tl.LockProvider(tmp_table_path, timeout_s=2.0, expiry_s=1.0):
            pass  # recovered: expired leak evicted, lock acquired
        assert not os.path.exists(lock_path)
    finally:
        st.ATOMIC = orig


def test_live_holder_refresh_prevents_eviction(tmp_table_path):
    """The holder's refresh thread keeps the lock mtime fresh, so a waiter
    with a short expiry never evicts a LIVE holder mid-critical-section."""
    import threading
    import time as _t

    os.makedirs(os.path.join(tmp_table_path, ".hoodie"), exist_ok=True)
    lock_path = os.path.join(tmp_table_path, ".hoodie", ".lock")
    release = threading.Event()
    held = threading.Event()

    def holder():
        with tl.LockProvider(tmp_table_path, timeout_s=5, expiry_s=0.6):
            held.set()
            release.wait(10)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert held.wait(5)
        _t.sleep(1.5)  # > 2x expiry: without refresh the lock looks stale
        with pytest.raises(TimeoutError):
            tl.LockProvider(tmp_table_path, timeout_s=0.5,
                            expiry_s=0.6).__enter__()
        assert os.path.exists(lock_path)  # holder never evicted
    finally:
        release.set()
        t.join(10)
    assert not os.path.exists(lock_path)  # released on exit


def test_publish_orphan_tmp_swept_by_reclamation(spark, orders,
                                                 tmp_table_path):
    """A crash mid-put_atomic leaves .<hex>.tmp in the timeline dir;
    failed-write reclamation sweeps aged ones, keeps fresh ones."""
    from hoodie_spark.services.rollback import rollback_failed_writes

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orphans", ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(50))
    d = tbl.timeline.dir
    stale = os.path.join(d, ".deadbeef.tmp")
    fresh = os.path.join(d, ".cafebabe.tmp")
    for f in (stale, fresh):
        with open(f, "wb") as fh:
            fh.write(b"x")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    rollback_failed_writes(tbl)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert tbl.snapshot().count() == 50  # listing still clean


def test_lock_release_failure_does_not_mask_body_exception(tmp_table_path):
    """A transient store error in delete_if_exists during __exit__ must not
    replace the in-flight exception from the with-block body, and a clean
    body must not see the release error either (lock left for expiry)."""
    from hoodie_spark import storage
    from hoodie_spark.timeline import LockProvider

    os.makedirs(os.path.join(tmp_table_path, ".hoodie"), exist_ok=True)
    orig = storage.ATOMIC.delete_if_exists

    def boom(path):
        raise OSError("transient store delete error")

    storage.ATOMIC.delete_if_exists = boom
    try:
        with pytest.raises(ValueError, match="body failure"):
            with LockProvider(tmp_table_path, timeout_s=1.0):
                raise ValueError("body failure")
        # lock file leaked (release failed) — recoverable by expiry
        assert os.path.exists(
            os.path.join(tmp_table_path, ".hoodie", ".lock"))
        os.remove(os.path.join(tmp_table_path, ".hoodie", ".lock"))
        # clean body: release error is swallowed (logged), not raised
        with LockProvider(tmp_table_path, timeout_s=1.0):
            pass
    finally:
        storage.ATOMIC.delete_if_exists = orig
    os.remove(os.path.join(tmp_table_path, ".hoodie", ".lock"))


def test_put_atomic_fsyncs_before_rename(tmp_table_path, monkeypatch):
    calls = []
    real_fsync = os.fsync
    real_replace = os.replace
    monkeypatch.setattr(os, "fsync",
                        lambda fd: (calls.append("fsync"), real_fsync(fd)))
    monkeypatch.setattr(
        os, "replace",
        lambda a, b: (calls.append("rename"), real_replace(a, b)))
    os.makedirs(tmp_table_path)
    p = os.path.join(tmp_table_path, "x.json")
    st.LocalAtomicStorage().put_atomic(p, b"payload")
    with open(p, "rb") as f:
        assert f.read() == b"payload"
    # data fsync happens BEFORE the rename publish
    assert "fsync" in calls and calls.index("fsync") < calls.index("rename")


_BODIES = [
    "the quick brown fox jumps over the lazy dog near the riverbank",
    "pack my box with five dozen liquor jugs before the long journey",
    "sphinx of black quartz judge my vow under the desert moonlight",
    "how vexingly quick daft zebras jump across the frozen meadow",
    "crazy fredrick bought many very exquisite opal jewels yesterday",
    "we promptly judged antique ivory buckles for the next big prize",
]


def _docs(spark, n=6):
    rows = [(i, _BODIES[i % len(_BODIES)]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_per_table_storage_from_other_backend_rejected(spark,
                                                       tmp_table_path):
    class NotTheGlobalBackend(st.Storage):
        pass

    with pytest.raises(ValueError, match="module-global"):
        HoodieTable.create(spark, tmp_table_path, "sb", ["doc_id"], None,
                           storage=NotTheGlobalBackend())
    # instrumentation wrappers (subclasses of the global backend) still work
    class Wrapper(type(st.FS)):
        pass

    tbl = HoodieTable.create(spark, tmp_table_path, "sb", ["doc_id"], None,
                             storage=Wrapper())
    tbl.upsert(_docs(spark, 3))
    assert tbl.snapshot().count() == 3
