"""Round-6 advisor regression tests: bucket bulk_insert initial-load guard,
partition-qualified expression stats, MOR secondary-index backfill,
heartbeat auto-refresh during long writes, and the compacted-log sweep over
superseded slices."""

import os
import time

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark import timeline as tl
from hoodie_spark.config import IndexType, WriteConfig


def _bucket_table(spark, path, **wc_kw):
    wc = WriteConfig(index_type=IndexType.BUCKET,
                     bucket_index_num_buckets=4, **wc_kw)
    return HoodieTable.create(
        spark, path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=wc)


def test_bucket_bulk_insert_refuses_live_partitions(spark, orders,
                                                    tmp_table_path):
    """A second bucket bulk_insert into occupied partitions would write a
    newer base slice at the same deterministic fid containing only the new
    batch, silently shadowing committed rows — it must raise instead."""
    tbl = _bucket_table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = tbl.snapshot().count()
    with pytest.raises(ValueError, match="initial-load"):
        tbl.bulk_insert(orders.limit(50))
    # nothing lost, nothing half-written, timeline has no dangling pending
    assert tbl.snapshot().count() == n
    assert not [i for i in tbl.timeline.pending()]
    # the documented follow-on path still works
    tbl.upsert(orders.limit(50).withColumn("o_orderstatus", F.lit("Z")))
    assert tbl.snapshot().count() == n


def test_bucket_bulk_insert_new_partitions_ok(spark, orders, tmp_table_path):
    """Loading a brand-new partition is still an initial load — allowed."""
    tbl = _bucket_table(spark, tmp_table_path)
    early = orders.filter("year(o_orderdate) < 1995")
    late = orders.filter("year(o_orderdate) >= 1995")
    tbl.bulk_insert(early)
    tbl.bulk_insert(late)  # disjoint partitions: no shadowing possible
    assert tbl.snapshot().count() == orders.count()


def test_bucket_expr_stats_keyed_by_partition(spark, orders, tmp_table_path):
    """Bucket tables write identically named base files in several
    partitions within one commit; expression stats must be keyed by the
    partition-qualified path or one partition's min/max is recorded for
    every same-named file (and skip_filters then prune files that DO
    contain matching rows)."""
    tbl = _bucket_table(spark, tmp_table_path,
                        stats_exprs={"yr": "year(o_orderdate)"})
    tbl.bulk_insert(orders)
    slices = tbl.view().latest_slices()
    # same basename appears in >1 partition — the collision the fix guards
    by_name = {}
    for sl in slices:
        by_name.setdefault(os.path.basename(sl.base_file.path),
                           set()).add(sl.partition)
    assert any(len(pps) > 1 for pps in by_name.values())
    # every file's harvested yr range must equal its own partition's year
    for sl in slices:
        cs = sl.base_file.col_stats
        assert cs and "yr" in cs, sl.base_file.path
        yr = int(sl.partition)
        assert cs["yr"] == [yr, yr], (sl.partition, cs["yr"])
    # end-to-end: pruning by the expression alias loses no rows
    exp = orders.filter("year(o_orderdate) = 1996").count()
    got = tbl.snapshot(skip_filters=[("yr", "=", 1996)]) \
        .filter("year(o_orderdate) = 1996").count()
    assert got == exp


def test_secondary_index_backfill_includes_log_values(spark, orders,
                                                      tmp_table_path):
    """On a MOR table, a value living only in un-compacted delta files at
    CREATE INDEX time must still be found — false negatives never."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "simor", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    moved = orders.limit(40).withColumn("o_orderpriority",
                                        F.lit("ZZ-DELTA-ONLY"))
    tbl.upsert(moved)  # MOR: lands in delta files, base untouched
    assert any(sl.log_files for sl in tbl.view().latest_slices())
    tbl.create_secondary_index("o_orderpriority")
    got = tbl.read_by_column("o_orderpriority", ["ZZ-DELTA-ONLY"])
    assert got.count() == 40
    assert set(r.o_orderpriority
               for r in got.select("o_orderpriority").distinct()
               .collect()) == {"ZZ-DELTA-ONLY"}


def test_heartbeat_auto_refresh_blocks_reclaim(spark, orders,
                                               tmp_table_path):
    """A live write whose jobs outlast heartbeat_expiry_s must keep
    beating (background refresher) so lazy reclamation never rolls it
    back mid-flight; once the writer stops beating it becomes
    reclaimable."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "hb", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(heartbeat_expiry_s=0.6))
    tbl.bulk_insert(orders.limit(100))
    wc = tbl._writer
    instant = wc._begin(tl.COMMIT)  # in-flight write, refresher armed
    try:
        time.sleep(1.8)  # 3x the expiry: a single-shot beat would be stale
        from hoodie_spark.services.rollback import rollback_failed_writes
        assert rollback_failed_writes(tbl) == []
        assert [i for i in tbl.timeline.pending()
                if i.timestamp == instant]
    finally:
        wc._stop_heartbeat(instant)
    time.sleep(0.8)  # beat gone and stale -> now genuinely dead
    assert rollback_failed_writes(tbl) == [instant]
    assert not [i for i in tbl.timeline.pending()
                if i.timestamp == instant]


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


def test_datasource_overwrite_replaces_whole_table(spark, orders,
                                                   tmp_table_path):
    """SaveMode.Overwrite = full-table overwrite (Hudi's DefaultSource
    maps it to INSERT_OVERWRITE_TABLE), not partition-scoped."""
    from hoodie_spark.sources import HoodieDataSource

    spark.dataSource.register(HoodieDataSource)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "owds", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders)
    only_1995 = orders.filter("year(o_orderdate) = 1995").limit(20)
    (only_1995.write.format("hoodie_spark").mode("overwrite")
     .save(tmp_table_path))
    snap = HoodieTable.load(spark, tmp_table_path).snapshot()
    # every other year's rows are gone — whole-table semantics
    assert snap.count() == 20
    assert snap.filter("year(o_orderdate) != 1995").count() == 0
