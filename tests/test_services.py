"""Table services: rollback, savepoint/restore, clean, clustering,
compaction, archival (TestCleaner.java / TestHoodieTimelineArchiveLog.java /
rollback invariants of TestHoodieClientOnCopyOnWriteStorage.java)."""

import os
import time

from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType, WriteConfig
from hoodie_spark.services.clean import CleaningPolicy
from hoodie_spark.services.compact import CompactionStrategy

SF_DIR = "/root/testdata/sf0.001"


def make_orders(spark, path, **kw):
    return HoodieTable.create(spark, path, "orders",
                              recordkey_fields=["o_orderkey"],
                              precombine_field="o_orderdate",
                              partition_expr="date_format(o_orderdate,'yyyy')", **kw)


def test_rollback(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    r2 = tbl.upsert(orders.withColumn("o_orderstatus", F.lit("X")))
    assert tbl.snapshot().filter("o_orderstatus='X'").count() == orders.count()
    tbl.rollback(r2.instant)
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter("o_orderstatus='X'").count() == 0
    # rolled-back instant's files are physically gone
    view = tbl.view()
    assert all(sl.base_instant != r2.instant for sl in view.latest_slices())


def test_rollback_non_latest_rejected(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    r1 = tbl.bulk_insert(orders.limit(500))
    tbl.upsert(orders.limit(200).withColumn("o_orderstatus", F.lit("X")))
    import pytest
    with pytest.raises(ValueError):
        tbl.rollback(r1.instant)


def test_savepoint_restore(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    r1 = tbl.bulk_insert(orders)
    tbl.savepoint(r1.instant)
    tbl.upsert(orders.withColumn("o_orderstatus", F.lit("X")))
    tbl.delete(orders.filter("o_orderkey % 3 = 0"))
    tbl.restore(r1.instant)
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter("o_orderstatus='X'").count() == 0


def test_clean_keep_latest_commits(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    for i in range(3):
        tbl.upsert(orders.filter("o_orderkey % 5 = 0")
                   .withColumn("o_orderstatus", F.lit(f"v{i}")))
    view = tbl.view()
    n_slices_before = sum(len(g.slices) for g in view.groups.values())
    t = tbl.clean(CleaningPolicy.KEEP_LATEST_COMMITS, retained=2)
    assert t is not None
    view = tbl.view()
    n_slices_after = sum(len(g.slices) for g in view.groups.values())
    assert n_slices_after < n_slices_before
    # current state unaffected
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter("o_orderstatus='v2'").count() == \
        orders.filter("o_orderkey % 5 = 0").count()
    # all files the view references still exist
    for sl in view.latest_slices():
        assert os.path.exists(os.path.join(tbl.base_path, sl.base_file.path))


def test_clean_respects_savepoint(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path, write_config=WriteConfig())
    r1 = tbl.bulk_insert(orders)
    tbl.savepoint(r1.instant)
    for i in range(4):
        tbl.upsert(orders.filter("o_orderkey % 5 = 0")
                   .withColumn("o_orderstatus", F.lit(f"v{i}")))
    tbl.clean(CleaningPolicy.KEEP_LATEST_COMMITS, retained=1)
    # savepointed snapshot still fully readable
    assert tbl.snapshot(as_of=r1.instant).count() == orders.count()


def test_clustering(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    # many small files: bulk_insert never packs, so 4 chunks -> 4 groups/partition
    for i in range(4):
        tbl.bulk_insert(orders.filter(f"o_orderkey % 4 = {i}"))
    before = tbl.snapshot()
    cnt_before = before.count()
    groups_before = len(tbl.view().latest_slices())
    t = tbl.cluster(sort_cols=["o_orderkey"])
    assert t is not None
    after = tbl.snapshot()
    assert after.count() == cnt_before
    groups_after = len(tbl.view().latest_slices())
    assert groups_after < groups_before
    # contents identical
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert sorted(map(tuple, before.select(cols).collect())) == \
        sorted(map(tuple, after.select(cols).collect()))
    # commit-time meta preserved (incremental still correct)
    assert after.filter(F.col("_hoodie_commit_time") == t).count() == 0


def test_clustering_recent_days_plan(spark, orders, tmp_table_path):
    """SparkRecentDaysClusteringPlanStrategy.java:112-122: only the
    lexicographically-latest N partitions are planned; older partitions'
    file groups are untouched by the clustering replacecommit."""
    from hoodie_spark.services.cluster import plan_clustering, recent_partitions

    tbl = make_orders(spark, tmp_table_path)
    for i in range(4):
        tbl.bulk_insert(orders.filter(f"o_orderkey % 4 = {i}"))
    all_parts = sorted(tbl.view().partitions())
    assert len(all_parts) > 3  # orderdate years span 1992..1998
    lookback = set(all_parts[-2:])
    assert set(recent_partitions(tbl, 2)) == lookback

    plan = plan_clustering(tbl, plan_strategy="recent_days",
                           target_partitions=2)
    assert plan and {sl.partition for sl in plan} == lookback

    old_files_before = {(sl.partition, sl.file_id, sl.base_instant)
                        for sl in tbl.view().latest_slices()
                        if sl.partition not in lookback}
    t = tbl.cluster(sort_cols=["o_orderkey"], plan_strategy="recent_days",
                    target_partitions=2)
    assert t is not None
    after = tbl.view().latest_slices()
    # old partitions: identical slices survive
    assert {(sl.partition, sl.file_id, sl.base_instant) for sl in after
            if sl.partition not in lookback} == old_files_before
    # recent partitions: rewritten at the replacecommit
    assert all(sl.base_instant == t for sl in after
               if sl.partition in lookback)
    assert tbl.snapshot().count() == orders.count()


def test_clustering_group_packing(spark, orders, tmp_table_path):
    """PartitionAwareClusteringPlanStrategy:72-100 — groups are byte-capped
    per partition and the total group count is bounded."""
    from hoodie_spark.services.cluster import pack_groups, plan_clustering

    tbl = make_orders(spark, tmp_table_path)
    for i in range(4):
        tbl.bulk_insert(orders.filter(f"o_orderkey % 4 = {i}"))
    plan = plan_clustering(tbl)
    sizes = [sl.base_file.size for sl in plan]
    cap = max(sizes) * 2 + 1
    groups = pack_groups(tbl, plan, max_bytes_in_group=cap,
                         max_num_groups=1000)
    # every group stays within one partition; byte cap respected before the
    # closing slice (greedy: a group may exceed only via its last element)
    for grp in groups:
        assert len({sl.partition for sl in grp}) == 1
        assert sum(sl.base_file.size for sl in grp[:-1]) < cap
    assert sorted(sl.file_id for grp in groups for sl in grp) == \
        sorted(sl.file_id for sl in plan)
    capped = pack_groups(tbl, plan, max_bytes_in_group=cap, max_num_groups=2)
    assert len(capped) == 2


def test_mor_compaction(spark, events, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "events",
                             recordkey_fields=["event_id"], precombine_field="ts",
                             partition_fields=["event_type"],
                             table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(events)
    upd = (events.filter("event_id % 5 = 0")
           .withColumn("value", F.col("value") + 10000.0)
           .withColumn("ts", F.expr("ts + interval 1 hour")))
    tbl.upsert(upd)
    tbl.delete(events.filter("event_id % 7 = 0").select("event_id", "event_type"))
    snap_before = tbl.snapshot()
    cnt = snap_before.count()
    nupd = snap_before.filter("value >= 10000").count()

    t = tbl.compact(CompactionStrategy.all_with_logs)
    assert t is not None
    # no slice has pending logs any more
    assert all(not sl.log_files for sl in tbl.view().latest_slices())
    snap = tbl.snapshot()
    assert snap.count() == cnt
    assert snap.filter("value >= 10000").count() == nupd
    # read-optimized now equals snapshot
    ro = tbl.read_optimized()
    assert ro.count() == cnt
    assert ro.filter("value >= 10000").count() == nupd


def test_archive_keeps_view_correct(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path)
    tbl.bulk_insert(orders.filter("o_orderkey % 2 = 0"))
    for i in range(4):
        tbl.upsert(orders.filter(f"o_orderkey % 7 = {i}")
                   .withColumn("o_orderpriority", F.lit(f"a{i}")))
    expected = tbl.snapshot().count()
    moved = tbl.archive(max_active=2)
    assert moved == 3
    assert tbl.snapshot().count() == expected  # fold includes archived commits


def test_compaction_strategies(spark, tmp_table_path):
    from hoodie_spark import HoodieTable, TableType
    from hoodie_spark.services.compact import (CompactionStrategy,
                                               schedule_compaction)

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "cmp", ["o_orderkey"], "o_orderdate",
        partition_expr="date_format(o_orderdate,'yyyy')",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    from pyspark.sql import functions as F
    tbl.upsert(orders.filter(F.col("o_orderkey") % 3 == 0)
               .withColumn("o_orderstatus", F.lit("X")))

    all_logs = schedule_compaction(tbl, CompactionStrategy.all_with_logs)
    assert all_logs
    day = schedule_compaction(tbl, CompactionStrategy.day_based,
                              partitions_to_compact=1)
    assert {sl.partition for sl in day} == {max(sl.partition for sl in all_logs)}
    bounded = schedule_compaction(tbl, CompactionStrategy.bounded_io,
                                  max_io_bytes=1)  # tiny budget -> 1 slice
    assert len(bounded) == 1
    assert schedule_compaction(tbl, CompactionStrategy.log_size,
                               threshold_bytes=1) == all_logs


def test_upgrade_downgrade_key_ranges(spark, orders, tmp_table_path):
    """v1 <-> v2 layout migration: downgrade strips per-file key ranges
    from the manifests; upgrade backfills them from parquet footers and
    restores range-pruned point lookups (UpgradeDowngrade.java shape)."""
    from hoodie_spark import HoodieTable, WriteConfig

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders", recordkey_fields=["o_orderkey"],
        write_config=WriteConfig(parquet_max_file_size=64 * 1024,
                                 record_size_estimate=512))
    tbl.bulk_insert(orders)
    assert tbl.config.version == 2

    def ranges():
        return [(st.get("min_key"), st.get("max_key"))
                for inst in tbl.timeline.completed()
                for st in tbl.timeline.metadata(inst).get("write_stats", [])]

    assert all(lo is not None for lo, _ in ranges())
    n = tbl.downgrade()
    assert tbl.config.version == 1 and n > 0
    assert all(lo is None and hi is None for lo, hi in ranges())
    # reload sees the persisted version
    assert HoodieTable.load(spark, tmp_table_path).config.version == 1

    n2 = tbl.upgrade()
    assert tbl.config.version == 2 and n2 == n
    assert all(lo is not None for lo, _ in ranges())
    # the backfilled ranges actually prune again
    total = len(tbl.snapshot().inputFiles())
    got = tbl.read_keys(orders.filter("o_orderkey = 7"))
    assert got.count() == 1
    assert len(got.inputFiles()) < total
    # idempotent / no-op on current version
    assert tbl.upgrade() == 0


# ---------------------------------------------------------- partition TTL
def test_partition_ttl_expires_old_partitions(spark, orders, tmp_table_path):
    from hoodie_spark.services import expired_partitions

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders)
    parts = sorted(tbl.view().partitions())
    assert len(parts) >= 3

    # keep_latest: all but the newest two are due
    assert expired_partitions(tbl, keep_latest=2) == parts[:-2]
    # older_than: strict lexicographic cut
    assert expired_partitions(tbl, older_than=parts[1]) == parts[:1]

    n_keep = tbl.snapshot().filter(
        F.col("_hoodie_partition_path").isin(parts[-2:])).count()
    res = tbl.apply_ttl(keep_latest=2)
    assert res is not None
    snap = tbl.snapshot()
    assert sorted(tbl.view().partitions()) == parts[-2:]
    assert snap.count() == n_keep
    # expiry is a replacecommit — incremental readers see it on the timeline
    assert tbl.timeline.completed()[-1].action == "replacecommit"
    # nothing further due; conflicting policies rejected
    assert tbl.apply_ttl(keep_latest=2) is None
    import pytest as _pytest
    with _pytest.raises(ValueError):
        expired_partitions(tbl, keep_latest=1, older_than="x")


# ----------------------------------------------- failed-write reclamation
def _simulate_crashed_writer(tbl, heartbeat_age_s=None):
    """Leave behind exactly what a writer that died mid-write leaves: a
    requested+inflight instant, an orphan data file named with that instant,
    and (optionally) a heartbeat file aged ``heartbeat_age_s`` seconds."""
    import time as _time

    from hoodie_spark import timeline as tl

    ts = tbl.timeline.new_instant_time()
    tbl.timeline.create_requested(tl.COMMIT, ts)
    tbl.timeline.transition_inflight(tl.COMMIT, ts)
    part = sorted(tbl.view().partitions())[0]
    orphan = os.path.join(tbl.base_path, part, f"deadbeef_0-0-0_{ts}.parquet")
    with open(orphan, "wb") as f:
        f.write(b"partial")
    if heartbeat_age_s is not None:
        hb = tl.Heartbeat(tbl.base_path)
        hb.refresh(ts)
        old = _time.time() - heartbeat_age_s
        os.utime(hb._path(ts), (old, old))
    return ts, orphan


def test_lazy_failed_write_cleaning(spark, orders, tmp_table_path):
    from hoodie_spark.services import clean, rollback_failed_writes

    tbl = make_orders(spark, tmp_table_path,
                      write_config=WriteConfig(heartbeat_expiry_s=60.0))
    tbl.bulk_insert(orders)
    n = tbl.snapshot().count()

    dead_ts, orphan = _simulate_crashed_writer(tbl, heartbeat_age_s=3600)
    live_ts, live_orphan = _simulate_crashed_writer(tbl, heartbeat_age_s=0)

    reclaimed = rollback_failed_writes(tbl)
    assert reclaimed == [dead_ts]
    assert not os.path.exists(orphan)
    assert os.path.exists(live_orphan)  # live writer untouched
    assert {i.timestamp for i in tbl.timeline.pending()} == {live_ts}
    assert tbl.timeline.completed()[-1].action == "rollback"
    assert tbl.snapshot().count() == n

    # clean() under the default lazy policy reclaims once the beat expires
    from hoodie_spark import timeline as tl
    hb = tl.Heartbeat(tbl.base_path)
    old = __import__("time").time() - 3600
    os.utime(hb._path(live_ts), (old, old))
    clean(tbl)
    assert tbl.timeline.pending() == []
    assert not os.path.exists(live_orphan)


def test_eager_failed_write_cleaning(spark, orders, tmp_table_path):
    tbl = make_orders(spark, tmp_table_path,
                      write_config=WriteConfig(failed_writes_policy="eager",
                                               heartbeat_expiry_s=60.0))
    tbl.bulk_insert(orders)
    dead_ts, orphan = _simulate_crashed_writer(tbl, heartbeat_age_s=3600)
    # missing heartbeat entirely also counts as dead
    dead2_ts, orphan2 = _simulate_crashed_writer(tbl)

    tbl.upsert(orders.limit(10).withColumn("o_orderstatus", F.lit("X")))
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan2)
    assert tbl.timeline.pending() == []
    # the write itself published and left no heartbeat behind
    hb_dir = os.path.join(tbl.base_path, ".hoodie", ".heartbeat")
    assert not os.path.exists(hb_dir) or os.listdir(hb_dir) == []


def test_repair_deduplicate(spark, orders, tmp_table_path):
    from hoodie_spark.services import find_duplicates, repair_deduplicate

    tbl = make_orders(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    parts = sorted(tbl.view().partitions())
    bad = parts[1]
    dupes = (orders.filter(F.date_format("o_orderdate", "yyyy") == bad)
             .limit(100).withColumn("o_orderstatus", F.lit("D")))
    n_dup = dupes.count()
    assert n_dup > 0
    # bulk_insert bypasses the index by design -> duplicate keys appear
    tbl.bulk_insert(dupes)
    assert tbl.snapshot().count() == orders.count() + n_dup
    assert find_duplicates(tbl, bad).count() == n_dup

    # dry run reports, mutates nothing
    assert repair_deduplicate(tbl, bad, dry_run=True) == n_dup
    assert tbl.snapshot().count() == orders.count() + n_dup

    inst = repair_deduplicate(tbl, bad)
    assert inst is not None
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert find_duplicates(tbl, bad).count() == 0
    # winner is the later commit's row (same precombine, higher commit time)
    assert snap.filter("o_orderstatus='D'").count() == n_dup
    # untouched partitions keep their original files; the repair is an
    # atomic replacecommit, so it rolls back like any other write
    assert tbl.timeline.completed()[-1].action == "replacecommit"
    tbl.rollback(inst)
    assert tbl.snapshot().count() == orders.count() + n_dup
    # clean partition: no-op
    assert repair_deduplicate(tbl, parts[0]) is None


def test_time_travel_past_clean_horizon_raises(spark, orders, tmp_table_path):
    """A cleaned-away snapshot must fail loudly, not return 0 rows; a
    savepointed instant stays readable because its files are pinned."""
    import pytest

    from hoodie_spark.services import clean

    tbl = make_orders(spark, tmp_table_path,
                      write_config=WriteConfig(cleaner_commits_retained=2))
    small = orders.limit(300)
    r1 = tbl.bulk_insert(small)
    sp = tbl.upsert(small.withColumn("o_orderstatus", F.lit("SP")))
    tbl.savepoint(sp.instant)
    for i in range(3):
        tbl.upsert(small.withColumn("o_orderstatus", F.lit(f"S{i}")))
    assert clean(tbl) is not None

    with pytest.raises(ValueError, match="not readable"):
        tbl.snapshot(as_of=r1.instant)
    with pytest.raises(ValueError, match="not readable"):
        tbl.incremental(end=r1.instant)
    # savepointed instant before the horizon still reads exactly
    snap = tbl.snapshot(as_of=sp.instant)
    assert snap.count() == 300
    assert snap.filter("o_orderstatus='SP'").count() == 300
    # unbounded reads unaffected
    assert tbl.snapshot().filter("o_orderstatus='S2'").count() == 300


def test_file_versions_clean_sets_readability_horizon(spark, orders,
                                                      tmp_table_path):
    """KEEP_LATEST_FILE_VERSIONS deletes by version count, so its horizon is
    data-dependent: time travel older than a group's oldest retained
    version must fail loudly rather than silently drop that group's rows."""
    import pytest

    from hoodie_spark.services import clean

    tbl = make_orders(spark, tmp_table_path)
    small = orders.limit(300)
    r1 = tbl.bulk_insert(small)
    tbl.upsert(small.withColumn("o_orderstatus", F.lit("A")))
    r3 = tbl.upsert(small.withColumn("o_orderstatus", F.lit("B")))
    assert clean(tbl, policy=CleaningPolicy.KEEP_LATEST_FILE_VERSIONS,
                 retained=1) is not None
    with pytest.raises(ValueError, match="not readable"):
        tbl.snapshot(as_of=r1.instant)
    # the latest version is complete and readable
    assert tbl.snapshot(as_of=r3.instant).count() == 300
    assert tbl.snapshot().filter("o_orderstatus='B'").count() == 300


def test_clean_sweeps_compacted_logs_in_superseded_slices(
        spark, orders, tmp_table_path):
    """logcompaction then FULL compaction leaves the compacted originals in
    a superseded slice; the cleaner must still delete them once they fall
    behind the retention horizon (storage leak otherwise)."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "sweep", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    for i in range(3):
        tbl.upsert(orders.filter(F.col("o_orderkey") % 3 == i)
                   .withColumn("o_orderstatus", F.lit(f"S{i}")))
    assert tbl.logcompact(min_log_files=3) is not None
    originals = [lf.path for sl in tbl.view().latest_slices()
                 for lf in sl.log_files if lf.compacted_at is not None]
    assert originals
    # full compaction supersedes those slices entirely
    assert tbl.compact() is not None
    expected = {r.o_orderkey: r.o_orderstatus
                for r in tbl.snapshot()
                .select("o_orderkey", "o_orderstatus").collect()}
    # push the retention horizon, then clean (the P-upserts carry the
    # ORIGINAL status for their 5 keys, legitimately winning)
    touched = orders.limit(5).select("o_orderkey", "o_orderstatus").collect()
    expected.update({r.o_orderkey: r.o_orderstatus for r in touched})
    for i in range(3):
        tbl.upsert(orders.limit(5)
                   .withColumn("o_orderpriority", F.lit(f"P{i}")))
    assert tbl.clean(retained=2) is not None
    for p in originals:
        assert not os.path.exists(os.path.join(tbl.base_path, p)), p
    got = {r.o_orderkey: r.o_orderstatus
           for r in tbl.snapshot()
           .select("o_orderkey", "o_orderstatus").collect()}
    assert got == expected


def test_sidecar_written_after_compaction_wins(spark, tmp_table_path):
    """compacted.json sorts AFTER timestamp-named sidecars (digits < 'c'),
    so without explicit ordering a stale compacted entry overrides any
    re-ANALYZE written after compaction."""
    from hoodie_spark.services.stats import _load_sidecars, compact_sidecars

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "sidecar_order", ["o_orderkey"],
        "o_orderdate")
    tbl.bulk_insert(orders.limit(200))
    assert tbl.analyze(exprs={"yr": "year(o_orderdate)"}) > 0
    assert compact_sidecars(tbl) > 0
    # redefine the alias and force a re-analyze AFTER compaction
    assert tbl.analyze(exprs={"yr": "year(o_orderdate) + 1000"},
                       force=True) > 0
    merged = _load_sidecars(tbl.base_path)
    for cs in merged.values():
        if "yr" in cs:
            assert cs["yr"][0] >= 2900, \
                "stale compacted.json entry overrode the newer sidecar"


def test_repair_orphan_files(spark, orders, tmp_table_path):
    """Never-referenced data files (crashed pre-commit writers, manual
    copies) are found and removed; referenced, pending-instant, and fresh
    files all survive; the snapshot is untouched."""
    from hoodie_spark.services.repair import (find_orphan_files,
                                              repair_orphan_files)

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orphfix", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders.limit(200))
    n = tbl.snapshot().count()

    part = next(p for p in os.listdir(tmp_table_path)
                if not p.startswith("."))
    pdir = os.path.join(tmp_table_path, part)
    old = time.time() - 7200
    # (a) aged never-referenced file -> orphan
    orphan = os.path.join(pdir, "deadf00d-0_0-0-0_19990101000000.parquet")
    # (b) aged file naming a PENDING instant -> in-flight, protected
    tbl.timeline.create_requested("commit", "29990101000000")
    inflight = os.path.join(pdir, "cafe0000-0_0-0-0_29990101000000.parquet")
    # (c) fresh never-referenced file -> age-guarded
    fresh = os.path.join(pdir, "beef0000-0_0-0-0_19990101000001.parquet")
    for f in (orphan, inflight, fresh):
        with open(f, "wb") as fh:
            fh.write(b"x")
    os.utime(orphan, (old, old))
    os.utime(inflight, (old, old))

    found = find_orphan_files(tbl)
    assert [os.path.basename(p) for p in found] == \
        [os.path.basename(orphan)]
    # dry run (default) deletes nothing
    listed = repair_orphan_files(tbl)
    assert os.path.exists(orphan) and listed == found
    # destructive run through the CALL procedure surface
    from hoodie_spark.sql.parser import run_sql
    removed = run_sql(
        spark, "CALL repair_orphans(table => 'orphfix', "
               "dry_run => false)", {"orphfix": tbl})
    assert removed == found
    assert not os.path.exists(orphan)
    assert os.path.exists(inflight) and os.path.exists(fresh)
    assert tbl.snapshot().count() == n
