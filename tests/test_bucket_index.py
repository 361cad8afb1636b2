"""Hash-bucket index: fixed key→file-group routing with zero-I/O tagging
(public HoodieSimpleBucketIndex design; extension beyond this reference
snapshot)."""

import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark.config import IndexType, WriteConfig


def _table(spark, path, **kw):
    wc = WriteConfig(index_type=IndexType.BUCKET, bucket_index_num_buckets=4)
    return HoodieTable.create(
        spark, path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=wc, **kw)


def test_bucket_upsert_delete_matches_simple_semantics(
        spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    upd = (orders.filter(F.col("o_orderkey") % 10 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    tbl.upsert(upd)
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey", "o_orderdate"))
    snap = tbl.snapshot().cache()
    assert snap.count() == orders.filter("o_orderkey % 7 != 3").count()
    assert snap.filter("o_orderkey % 10 = 0").count() == \
        snap.join(orders.select("o_orderkey",
                                F.col("o_totalprice").alias("orig")),
                  "o_orderkey") \
        .filter("o_orderkey % 10 = 0") \
        .filter(F.abs(F.col("o_totalprice") - F.col("orig") - 100.0)
                < 1e-9).count()
    # every file group id is a bucket id, never a planner uuid
    fids = {fid for (_pp, fid) in tbl.view().groups}
    assert fids and all(f.startswith("bucket") for f in fids)
    # at most num_buckets groups per partition
    from collections import Counter
    per_pp = Counter(pp for (pp, _f) in tbl.view().groups)
    assert max(per_pp.values()) <= 4


def test_bucket_tagging_reads_no_data_files(spark, orders, tmp_table_path,
                                            monkeypatch):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    # tagging must never open table files: poison the slice reader during
    # tag_location and verify an upsert still plans its routing
    from hoodie_spark import index as index_mod

    def boom(*a, **k):
        raise AssertionError("bucket tagging read a data file")

    real_tag = index_mod.tag_location

    def guarded(spark_, prepared, table, view=None, force_global=False):
        saved = table.read_slices_base
        table.read_slices_base = boom
        try:
            return real_tag(spark_, prepared, table, view=view,
                            force_global=force_global)
        finally:
            table.read_slices_base = saved

    monkeypatch.setattr("hoodie_spark.writer.tag_location", guarded)
    upd = (orders.filter(F.col("o_orderkey") % 11 == 0)
           .withColumn("o_orderstatus", F.lit("B")))
    tbl.upsert(upd)
    assert tbl.snapshot().filter("o_orderstatus = 'B'").count() == upd.count()


def test_bucket_insert_routes_new_partition(spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = tbl.snapshot().count()
    fresh = (orders.limit(7)
             .withColumn("o_orderkey", F.col("o_orderkey") + 5_000_000)
             .withColumn("o_orderdate", F.expr(
                 "o_orderdate + interval 400 days")))
    tbl.insert(fresh)
    assert tbl.snapshot().count() == n + 7
    fids = {fid for (_pp, fid) in tbl.view().groups}
    assert all(f.startswith("bucket") for f in fids)


def test_bucket_mor_delta_appends(spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path,
                 table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    upd = (orders.filter(F.col("o_orderkey") % 6 == 0)
           .withColumn("o_orderstatus", F.lit("M")))
    res = tbl.upsert(upd)
    assert all(s["is_delta"] for s in res.stats)
    assert tbl.snapshot().filter("o_orderstatus = 'M'").count() == upd.count()
    tbl.compact()
    assert tbl.read_optimized().filter(
        "o_orderstatus = 'M'").count() == upd.count()


def test_bucket_count_persisted_across_sessions(spark, orders, tmp_table_path):
    """The bucket count is table layout, not a session knob: a reload with
    plain defaults must adopt it (or the next upsert would route new rows
    into planner-uuid groups and duplicate keys); a conflicting explicit
    count must be rejected."""
    import pytest

    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = orders.count()

    plain = HoodieTable.load(spark, tmp_table_path)  # no write_config at all
    assert plain.write_config.index_type == IndexType.BUCKET
    assert plain.write_config.bucket_index_num_buckets == 4
    plain.upsert(orders.withColumn("o_orderstatus", F.lit("R")))
    snap = plain.snapshot()
    assert snap.count() == n  # upsert, not duplicate-insert
    assert snap.filter("o_orderstatus='R'").count() == n
    fids = {fid for (_pp, fid) in plain.view().groups}
    assert all(f.startswith("bucket") for f in fids)

    with pytest.raises(ValueError, match="bucket"):
        HoodieTable.load(spark, tmp_table_path,
                         WriteConfig(index_type=IndexType.BUCKET,
                                     bucket_index_num_buckets=16))


def test_bucket_rescale(spark, orders, tmp_table_path):
    """Power-of-two re-bucketing: data identical, layout moves to the new
    bucket count, the count persists, and post-rescale upserts still route
    by hash (no duplicates)."""
    from hoodie_spark.services import rescale_buckets

    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.limit(50).withColumn("o_orderstatus", F.lit("U")))
    n = orders.count()
    before = tbl.snapshot().select("o_orderkey", "o_totalprice",
                                   "o_orderstatus").orderBy("o_orderkey")
    rows_before = [tuple(r) for r in before.collect()]

    inst = rescale_buckets(tbl, 8)
    assert inst is not None
    assert tbl.config.bucket_index_num_buckets == 8
    snap = tbl.snapshot()
    assert snap.count() == n
    after = snap.select("o_orderkey", "o_totalprice",
                        "o_orderstatus").orderBy("o_orderkey")
    assert [tuple(r) for r in after.collect()] == rows_before
    # layout: live groups all bucket-named, <= 8 per partition
    view = tbl.view()
    live = [(pp, fid) for (pp, fid), g in view.groups.items()
            if g.is_live(None)]
    assert all(fid.startswith("bucket") for _pp, fid in live)
    per_part = {}
    for pp, fid in live:
        per_part.setdefault(pp, set()).add(fid)
    assert all(len(fids) <= 8 for fids in per_part.values())
    assert any(len(fids) > 4 for fids in per_part.values())

    # fresh session adopts the new count and upserts without duplicating
    tbl2 = HoodieTable.load(spark, tmp_table_path)
    assert tbl2.write_config.bucket_index_num_buckets == 8
    tbl2.upsert(orders.withColumn("o_orderstatus", F.lit("V")))
    assert tbl2.snapshot().count() == n
    assert tbl2.snapshot().filter("o_orderstatus='V'").count() == n

    # no-op and validation arms
    assert rescale_buckets(tbl2, 8) is None
    import pytest
    with pytest.raises(ValueError):
        rescale_buckets(tbl2, 0)


def test_bucket_insert_overwrite_partition_keeps_layout(
        spark, orders, tmp_table_path):
    """Partition-scoped overwrite on a bucket table must reuse bucket fids
    (revived groups), never planner uuids, so later tag-free upserts still
    find every key."""
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = orders.count()
    years = sorted(tbl.view().partitions())
    repl = (orders.filter(F.date_format("o_orderdate", "yyyy") == years[0])
            .withColumn("o_orderstatus", F.lit("OW")))
    n_repl = repl.count()
    tbl.insert_overwrite(repl)
    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.filter("o_orderstatus='OW'").count() == n_repl
    live = [(pp, fid) for (pp, fid), g in tbl.view().groups.items()
            if g.is_live(None)]
    assert all(fid.startswith("bucket") for _pp, fid in live)
    # upsert into the overwritten partition: updates, no duplicates
    tbl.upsert(repl.withColumn("o_orderstatus", F.lit("OW2")))
    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.filter("o_orderstatus='OW2'").count() == n_repl


def test_bucket_rescale_mor_folds_deltas(spark, orders, tmp_table_path):
    """Rescaling a MOR bucket table folds outstanding deltas into the new
    base files (the rewrite reads the merged snapshot), and post-rescale
    upserts keep routing by the new hash."""
    from hoodie_spark.services import rescale_buckets

    tbl = _table(spark, tmp_table_path, table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.limit(80).withColumn("o_orderstatus", F.lit("U")))
    n = orders.count()
    assert any(sl.log_files for sl in tbl.view().latest_slices())

    assert rescale_buckets(tbl, 8) is not None
    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.filter("o_orderstatus='U'").count() == 80
    assert all(not sl.log_files for sl in tbl.view().latest_slices())
    tbl.upsert(orders.limit(40).withColumn("o_orderstatus", F.lit("V")))
    assert tbl.snapshot().count() == n
    assert tbl.snapshot().filter("o_orderstatus='V'").count() == 40


def test_bucket_rescale_rollback_restores_count(spark, orders, tmp_table_path):
    """Undoing a rescale must undo the persisted bucket count too —
    otherwise the config says 8 while the surviving layout is 4-bucket and
    the next upsert routes off-layout, duplicating keys."""
    from hoodie_spark.services import rescale_buckets

    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = orders.count()
    inst = rescale_buckets(tbl, 8)
    assert tbl.config.bucket_index_num_buckets == 8

    tbl.rollback(inst)
    assert tbl.config.bucket_index_num_buckets == 4
    # fresh session sees the restored count
    t2 = HoodieTable.load(spark, tmp_table_path)
    assert t2.write_config.bucket_index_num_buckets == 4
    t2.upsert(orders.withColumn("o_orderstatus", F.lit("R")))
    assert t2.snapshot().count() == n
    assert t2.snapshot().filter("o_orderstatus='R'").count() == n


def test_bucket_truncate_and_delete_partition_then_reinsert(
        spark, orders, tmp_table_path):
    """Stable-fid layouts recreate the same file-group ids after TRUNCATE or
    delete_partition; the revived groups must be fully readable and
    upsertable (regression for replaced-group revival semantics)."""
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = orders.count()
    tbl.truncate()
    assert tbl.snapshot().count() == 0
    tbl.bulk_insert(orders)
    assert tbl.snapshot().count() == n
    parts = sorted(tbl.view().partitions())
    tbl.delete_partitions([parts[0]])
    back = orders.filter(F.date_format("o_orderdate", "yyyy") == parts[0])
    nb = back.count()
    assert tbl.snapshot().count() == n - nb
    tbl.upsert(back.withColumn("o_orderstatus", F.lit("B")))
    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.filter("o_orderstatus='B'").count() == nb


def test_bucket_clustering_sorts_within_buckets(spark, orders,
                                                tmp_table_path):
    """Clustering a bucket table must rewrite each group onto its own fid
    (sorted), never merge groups or mint planner uuids — the regression
    here was every key duplicating on the next upsert."""
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    n = orders.count()
    inst = tbl.cluster(sort_cols=["o_totalprice"])
    assert inst is not None
    live = [(pp, fid) for (pp, fid), g in tbl.view().groups.items()
            if g.is_live(None)]
    assert all(fid.startswith("bucket") for _pp, fid in live)
    tbl.upsert(orders.withColumn("o_orderstatus", F.lit("C")))
    snap = tbl.snapshot()
    assert snap.count() == n  # no duplicates
    assert snap.filter("o_orderstatus='C'").count() == n


def test_bucket_bulk_insert_refuses_live_partitions(spark, orders,
                                                    tmp_table_path):
    """A second bucket bulk_insert into occupied partitions would write a
    newer base slice at the same deterministic fid containing only the new
    batch, silently shadowing committed rows — it must raise instead."""
    tbl = _table(spark, tmp_table_path)
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
    tbl = _table(spark, tmp_table_path)
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
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(index_type=IndexType.BUCKET,
                                 bucket_index_num_buckets=4,
                                 stats_exprs={"yr": "year(o_orderdate)"}))
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
