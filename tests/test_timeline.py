import os

from hoodie_spark import HoodieTable
from hoodie_spark.services.repair import find_orphan_files
from hoodie_spark.timeline import (COMMIT, COMPLETED, Instant, LockProvider,
                                   Timeline)


def test_instant_monotonic(tmp_table_path):
    tl = Timeline(tmp_table_path)
    tl.init()
    ts = [tl.new_instant_time() for _ in range(5)]
    assert ts == sorted(ts) and len(set(ts)) == 5


def test_atomic_complete_and_metadata(tmp_table_path):
    tl = Timeline(tmp_table_path)
    tl.init()
    t = tl.new_instant_time()
    tl.create_requested(COMMIT, t)
    tl.transition_inflight(COMMIT, t)
    assert tl.pending() and not tl.completed()
    tl.complete(COMMIT, t, {"write_stats": [{"x": 1}]})
    assert not tl.pending()
    assert [i.timestamp for i in tl.completed()] == [t]
    assert tl.metadata(Instant(t, COMMIT))["write_stats"] == [{"x": 1}]


def test_archive_roundtrip(tmp_table_path):
    tl = Timeline(tmp_table_path)
    tl.init()
    times = []
    for i in range(6):
        t = tl.new_instant_time()
        tl.create_requested(COMMIT, t)
        tl.complete(COMMIT, t, {"n": i})
        times.append(t)
    moved = tl.archive(max_active=2)
    assert moved == 4
    # archived instants still visible + readable (HoodieArchivedTimeline)
    assert [i.timestamp for i in tl.completed()] == times
    assert tl.metadata(Instant(times[0], COMMIT))["n"] == 0
    active = tl.instants((COMPLETED,), include_archived=False)
    assert [i.timestamp for i in active] == times[4:]


def test_lock_provider(tmp_table_path):
    os.makedirs(os.path.join(tmp_table_path, ".hoodie"))
    with LockProvider(tmp_table_path):
        import pytest

        with pytest.raises(TimeoutError):
            with LockProvider(tmp_table_path, timeout_s=0.2):
                pass
    with LockProvider(tmp_table_path, timeout_s=0.2):
        pass


def test_partition_expr_column_extraction():
    """String literals and function names must not read as column refs."""
    from hoodie_spark.keygen import _expr_columns

    assert _expr_columns("date_format(o_orderdate,'yyyy')") == {"o_orderdate"}
    assert _expr_columns("cast(year(o_orderdate) as string)") == {"o_orderdate"}
    assert _expr_columns("concat(region, '/', city)") == {"region", "city"}
    assert _expr_columns("'constant'") == set()


def test_archive_chunk_crash_between_publish_and_delete(tmp_table_path):
    """Crash AFTER the chunk publish but BEFORE the active deletes: the
    instant is visible in both places and readers must dedup — never
    duplicate, never lose."""
    tl = Timeline(tmp_table_path)
    tl.init()
    times = []
    for i in range(5):
        t = tl.new_instant_time()
        tl.create_requested(COMMIT, t)
        tl.complete(COMMIT, t, {"n": i})
        times.append(t)
    orig = tl.delete_instant
    tl.delete_instant = lambda inst: None  # crash: deletes never run
    try:
        assert tl.archive(max_active=2) == 3
    finally:
        tl.delete_instant = orig
    # in BOTH places now; completed() must dedup to the original set
    assert [i.timestamp for i in tl.completed()] == times
    assert tl.metadata(Instant(times[0], COMMIT))["n"] == 0
    # the retried archive re-folds the still-active instants into a new
    # chunk; the duplicate records collapse in every reader
    assert tl.archive(max_active=2) == 3
    assert [i.timestamp for i in tl.completed()] == times
    active = tl.instants((COMPLETED,), include_archived=False)
    assert [i.timestamp for i in active] == times[3:]


def test_instant_time_reads_the_clock_once(tmp_table_path, monkeypatch):
    """A second boundary between reading the seconds and the millis must
    not mint a time ~1 s in the past: the instant lies between the first
    and the last clock reading."""
    import time as real_time

    from hoodie_spark import timeline as T

    base = 1_700_000_000  # a whole second
    readings = iter([base * 1_000_000_000 + 999_000_000,  # xx:59.999
                     (base + 1) * 1_000_000_000])          # next second

    class Clock:
        def __init__(self):
            self.last = None

        def _read(self):
            self.last = next(readings, self.last)
            return self.last

        def time_ns(self):
            return self._read()

        def time(self):
            return self._read() / 1e9

        def localtime(self, secs=None):
            return real_time.localtime(self.time() if secs is None else secs)

        def strftime(self, fmt, t=None):
            return real_time.strftime(fmt, self.localtime() if t is None else t)

    monkeypatch.setattr(T, "time", Clock())
    tl = Timeline(tmp_table_path)
    tl.init()
    ts = tl.new_instant_time()

    def fmt(ns):
        ms = ns // 1_000_000
        return (real_time.strftime("%Y%m%d%H%M%S",
                                   real_time.localtime(ms // 1000))
                + f"{ms % 1000:03d}")

    assert fmt(base * 1_000_000_000 + 999_000_000) <= ts \
        <= fmt((base + 1) * 1_000_000_000)


def test_instant_time_above_pending_instants(tmp_table_path):
    """A pending instant ahead of this writer's clock (another writer's
    requested or inflight commit) still bounds the next instant time."""
    from hoodie_spark.timeline import INFLIGHT, REQUESTED

    for state, ahead in ((REQUESTED, "99990101000000000"),
                         (INFLIGHT, "99990101000000005")):
        tl = Timeline(tmp_table_path)
        tl.init()
        if state == REQUESTED:
            tl.create_requested(COMMIT, ahead)
        else:
            tl.transition_inflight(COMMIT, ahead)
        fresh = Timeline(tmp_table_path)  # a second writer: no local floor
        assert fresh.new_instant_time() > ahead


def _make_table_with_commits(spark, orders, path, n_commits=6):
    tbl = HoodieTable.create(spark, path, "arch_t", ["o_orderkey"],
                             "o_orderdate")
    tbl.bulk_insert(orders.limit(100))
    upd = orders.limit(20)
    for _ in range(n_commits - 1):
        tbl.upsert(upd)
    return tbl


def test_archive_record_durable_before_active_delete(spark, orders,
                                                     tmp_table_path):
    """At the moment delete_instant runs, the archive file on disk must
    already contain a COMPLETE JSON record for that instant — a concurrent
    reader (orphan repair) or a crash right here must find the instant in
    at least one of the two places."""
    tbl = _make_table_with_commits(spark, orders, tmp_table_path)
    tl = tbl.timeline
    seen_at_delete = []
    orig_delete = tl.delete_instant

    def checked_delete(inst):
        # the chunk is published atomically BEFORE any delete runs, so at
        # this moment every moved instant must already be readable through
        # the archive
        recs = list(tl.archived_records())
        seen_at_delete.append(
            any(r["timestamp"] == inst.timestamp for r in recs))
        return orig_delete(inst)

    tl.delete_instant = checked_delete
    try:
        moved = tbl.archive(max_active=2)
    finally:
        tl.delete_instant = orig_delete
    assert moved >= 2
    assert seen_at_delete and all(seen_at_delete), \
        "active instant deleted before its archive record was durable"


def test_torn_archive_tail_tolerated(spark, orders, tmp_table_path):
    """A partially-written final archive line (crash/concurrent append)
    must not crash the orphan scan or the timeline's archive fallback."""
    tbl = _make_table_with_commits(spark, orders, tmp_table_path)
    assert tbl.archive(max_active=2) >= 2
    tl = tbl.timeline
    # a real archived record is still readable through metadata()
    archived = [i for i in tl.instants(include_archived=True)
                if i not in tl.instants(include_archived=False)]
    with open(tl.archive_path, "a") as f:
        f.write('{"timestamp": "20990101000000", "action": "comm')  # torn
    # orphan scan parses the archive: must skip the torn tail, not raise
    orphans = find_orphan_files(tbl, max_age_s=0.0)
    assert orphans == []
    if archived:
        md = tl.metadata(archived[0])
        assert "write_stats" in md


def test_archive_with_torn_legacy_file(spark, orders, tmp_table_path):
    """Archiving next to a crash-torn legacy (append-era) archive file
    must neither crash nor lose records: new folds land in write-once
    chunk objects (never appended onto the torn line), the torn legacy
    line is skipped on read, and every archived instant stays readable."""
    tbl = _make_table_with_commits(spark, orders, tmp_table_path)
    tl = tbl.timeline
    with open(tl.archive_path, "w") as f:
        f.write('{"timestamp": "199901010000', )  # torn, no newline
    moved = tbl.archive(max_active=2)
    assert moved >= 2
    # the fold went into a chunk object, not onto the legacy file
    assert any(e.startswith("chunk-") for e in os.listdir(tl.archive_dir))
    with open(tl.archive_path) as f:
        assert f.read() == '{"timestamp": "199901010000'  # untouched
    archived = [i for i in tl.instants(include_archived=True)
                if i not in tl.instants(include_archived=False)]
    assert len(archived) == moved
    ts = {r["timestamp"] for r in tl.archived_records()}
    assert all(i.timestamp in ts for i in archived)
    # and the snapshot still folds the archived metadata
    assert tbl.snapshot().count() == 100
