"""MOR table tests (TestMORDataSource.scala / TestHoodieMergeOnReadTable.java
equivalents): deltacommits, snapshot vs read-optimized, incremental."""

from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType


def make_events_table(spark, path):
    return HoodieTable.create(spark, path, "events",
                              recordkey_fields=["event_id"],
                              precombine_field="ts",
                              partition_fields=["event_type"],
                              table_type=TableType.MERGE_ON_READ)


def test_mor_upsert_snapshot_vs_read_optimized(spark, events, tmp_table_path):
    tbl = make_events_table(spark, tmp_table_path)
    tbl.bulk_insert(events)
    upd = (events.filter("event_id % 5 = 0")
           .withColumn("value", F.col("value") + 10000.0)
           .withColumn("ts", F.expr("ts + interval 1 hour")))
    res = tbl.upsert(upd)
    assert any(s["is_delta"] for s in res.stats)  # wrote delta files, no base rewrite
    assert not any(not s["is_delta"] for s in res.stats)

    snap = tbl.snapshot()
    assert snap.count() == events.count()
    assert snap.filter("value >= 10000").count() == upd.count()

    ro = tbl.read_optimized()
    assert ro.count() == events.count()
    # read-optimized serves pre-update values only
    assert ro.select("event_id", "value").exceptAll(
        events.select("event_id", "value")).count() == 0


def test_mor_delete_and_reinsert(spark, events, tmp_table_path):
    tbl = make_events_table(spark, tmp_table_path)
    tbl.bulk_insert(events)
    tbl.delete(events.filter("event_id % 7 = 0").select("event_id", "event_type"))
    remaining = events.filter("event_id % 7 <> 0").count()
    assert tbl.snapshot().count() == remaining
    # re-upsert previously deleted keys: must resurrect (delete-then-readd fold)
    back = events.filter("event_id % 7 = 0").withColumn("value", F.lit(-1.0))
    tbl.upsert(back)
    snap = tbl.snapshot()
    assert snap.count() == events.count()
    assert snap.filter("value = -1.0").count() == back.count()


def test_mor_incremental_and_ordering(spark, events, tmp_table_path):
    tbl = make_events_table(spark, tmp_table_path)
    r1 = tbl.bulk_insert(events)
    upd = (events.filter("event_id % 5 = 0")
           .withColumn("ts", F.expr("ts + interval 1 hour"))
           .withColumn("value", F.lit(111.5)))
    tbl.upsert(upd)
    # a LATE update (older ts) must lose to the stored newer-ts record
    late = (events.filter("event_id % 5 = 0")
            .withColumn("ts", F.expr("ts - interval 1 hour"))
            .withColumn("value", F.lit(-5.0)))
    tbl.upsert(late)
    snap = tbl.snapshot()
    assert snap.filter("value = 111.5").count() == upd.count()
    assert snap.filter("value = -5.0").count() == 0

    inc = tbl.incremental(begin=r1.instant)
    assert inc.count() == upd.count()
    assert inc.filter("value <> 111.5").count() == 0


def test_mor_upsert_new_keys_creates_base_files(spark, events, tmp_table_path):
    tbl = make_events_table(spark, tmp_table_path)
    tbl.bulk_insert(events)
    new = events.filter("event_id < 50").withColumn(
        "event_id", F.col("event_id") + 10_000_000)
    res = tbl.upsert(new)
    assert any(not s["is_delta"] for s in res.stats)
    assert tbl.snapshot().count() == events.count() + new.count()


def test_mor_snapshot_resolves_only_dirty_slices(spark, events, tmp_table_path):
    """Scale guard: the shuffle-by-key resolve must see only slices that
    carry deltas — clean file groups go straight from scan to output
    (HoodieMergeOnReadRDD.scala:72-76 merges per-slice; a 1%-dirty table
    must not shuffle 100% of its rows)."""
    from hoodie_spark.reader import ReadClient

    tbl = make_events_table(spark, tmp_table_path)
    tbl.bulk_insert(events)
    one_type = events.select("event_type").first()[0]
    upd = (events.filter(F.col("event_type") == one_type)
           .limit(50)
           .withColumn("value", F.col("value") + 5.0)
           .withColumn("ts", F.expr("ts + interval 1 hour")))
    tbl.upsert(upd)

    seen_files = []
    orig = ReadClient._resolve

    def spy(self, df):
        seen_files.extend(df.inputFiles())
        return orig(self, df)

    try:
        ReadClient._resolve = spy
        snap = tbl.snapshot()
        assert snap.count() == events.count()
        assert snap.filter("value >= 5.0").count() >= upd.count()
    finally:
        ReadClient._resolve = orig

    view = tbl.view()
    slices = view.latest_slices()
    dirty = [sl for sl in slices if sl.log_files]
    clean = [sl for sl in slices if not sl.log_files]
    assert dirty and clean, "fixture must produce both dirty and clean slices"
    # the same basename recurs across partitions — compare partition-
    # qualified relative paths, not basenames
    clean_bases = {sl.base_file.path for sl in clean if sl.base_file}
    resolved = {f.split("://", 1)[-1] for f in seen_files}
    hit = {p for p in clean_bases if any(r.endswith("/" + p) for r in resolved)}
    assert not hit, f"clean base files entered the resolve window: {hit}"
    dirty_bases = {sl.base_file.path for sl in dirty if sl.base_file}
    missed = {p for p in dirty_bases
              if not any(r.endswith("/" + p) for r in resolved)}
    assert not missed, f"dirty base files missing from resolve: {missed}"


def test_mor_schema_evolution_across_base_and_delta(spark, orders,
                                                    tmp_table_path):
    """ADD COLUMN then delta upsert: old base files (no column) and new
    delta files (with it) must merge into one evolved snapshot, and
    compaction must fold the evolved deltas cleanly."""
    from hoodie_spark import HoodieTable, TableType

    tbl = HoodieTable.create(
        spark, tmp_table_path, "o", ["o_orderkey"], "o_orderdate",
        partition_expr="date_format(o_orderdate,'yyyy')",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    n = orders.count()
    tbl.add_columns({"loyalty": "int"})
    tbl.upsert(orders.limit(60).withColumn("loyalty", F.lit(7)))

    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.filter("loyalty = 7").count() == 60
    assert snap.filter("loyalty is null").count() == n - 60
    assert "loyalty" in tbl.read_optimized().columns

    tbl.compact()
    snap2 = tbl.snapshot()
    assert snap2.count() == n
    assert snap2.filter("loyalty = 7").count() == 60


def test_mor_key_in_two_file_groups_is_updated_and_deleted_in_both(
        spark, customer, tmp_table_path):
    """A key stored in two file groups (``insert`` skips the index) gets a
    delta in each group for an update or a delete: no copy is stale or
    left behind, before compaction or after it. The snapshot folds the
    updated copies into one row; compaction, which merges per file
    group, keeps one per group."""
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"],
                             table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(customer.filter("c_custkey < 100"))
    tbl.insert(customer.filter("c_custkey in (5, 6)"))
    assert len(tbl.view().latest_slices()) == 2
    tbl.upsert(customer.filter("c_custkey = 6").withColumn("c_acctbal", F.lit(999.0)))
    tbl.delete(customer.filter("c_custkey = 5"))
    for compacted in (False, True):
        if compacted:
            assert tbl.compact() is not None
        snap = tbl.snapshot()
        assert snap.filter("c_custkey = 5").count() == 0
        six = snap.filter("c_custkey = 6")
        assert six.count() == (2 if compacted else 1)
        assert six.filter("c_acctbal != 999.0").count() == 0  # no stale copy
