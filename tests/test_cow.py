"""COW write-path + query-type tests, mirroring the reference's functional
suite (TestCOWDataSource.scala / TestHoodieClientOnCopyOnWriteStorage.java):
write → read back all query types → assert exact contents."""

from pyspark.sql import functions as F

from hoodie_spark import (HoodieTable, IndexType, MergePolicy, WriteConfig)


def make_orders_table(spark, path, **kw):
    args = dict(recordkey_fields=["o_orderkey"], precombine_field="o_orderdate",
                partition_expr="date_format(o_orderdate,'yyyy')")
    args.update(kw)
    return HoodieTable.create(spark, path, "orders", **args)


def as_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_bulk_insert_snapshot(spark, orders, tmp_table_path):
    tbl = make_orders_table(spark, tmp_table_path)
    res = tbl.bulk_insert(orders)
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert as_rows(snap, cols) == as_rows(orders, cols)
    # meta columns present and consistent
    row = snap.limit(1).collect()[0]
    assert row["_hoodie_commit_time"] == res.instant
    assert row["_hoodie_file_name"].endswith(".parquet")
    # partition pruning via explicit partitions
    p98 = tbl.snapshot(partitions=["1998"])
    assert p98.count() == orders.filter("year(o_orderdate)=1998").count()


def test_upsert_delete_incremental_timetravel(spark, orders, tmp_table_path):
    tbl = make_orders_table(spark, tmp_table_path)
    r1 = tbl.bulk_insert(orders)
    upd = (orders.filter("o_orderkey % 10 = 0")
           .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
           .withColumn("o_orderstatus", F.lit("U")))
    tbl.upsert(upd)
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter("o_orderstatus = 'U'").count() == upd.count()

    dels = orders.filter("o_orderkey % 17 = 0")
    r3 = tbl.delete(dels.select("o_orderkey", "o_orderdate"))
    snap = tbl.snapshot()
    assert snap.count() == orders.filter("o_orderkey % 17 <> 0").count()

    inc = tbl.incremental(begin=r1.instant)
    assert inc.count() == orders.filter(
        "o_orderkey % 10 = 0 and o_orderkey % 17 <> 0").count()
    assert inc.filter("o_orderstatus <> 'U'").count() == 0

    # time travel
    assert tbl.snapshot(as_of=r1.instant).count() == orders.count()
    # incremental bounded by end
    assert tbl.incremental(begin=r3.instant).count() == 0


def test_hard_delete_beats_newer_ordering(spark, orders, tmp_table_path):
    """EmptyHoodieRecordPayload semantics: delete wins even when the stored
    record has a higher precombine value than the delete row carries."""
    tbl = make_orders_table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    # +1 hour: newer precombine, same partition (year) — a +N days bump could
    # legitimately move records across the year partition boundary, which a
    # non-global index treats as a fresh insert (same as the reference)
    upd = orders.filter("o_orderkey % 10 = 0").withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("interval 1 hour"))
    tbl.upsert(upd)
    tbl.delete(orders.filter("o_orderkey % 10 = 0"))
    assert tbl.snapshot().filter("o_orderkey % 10 = 0").count() == 0


def test_insert_packs_small_files(spark, orders, tmp_table_path):
    tbl = make_orders_table(spark, tmp_table_path)
    tbl.bulk_insert(orders.filter("o_orderkey % 2 = 0"))
    files_before = len(tbl.view().latest_slices())
    tbl.insert(orders.filter("o_orderkey % 2 = 1"))
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.select("o_orderkey").distinct().count() == orders.count()
    # small-file packing: inserts went INTO existing file groups, not new ones
    assert len(tbl.view().latest_slices()) == files_before


def test_overwrite_and_delete_partition(spark, orders, tmp_table_path):
    tbl = make_orders_table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    ow = orders.filter("year(o_orderdate) = 1995").withColumn(
        "o_orderpriority", F.lit("OW"))
    tbl.insert_overwrite(ow)
    snap = tbl.snapshot()
    assert snap.filter("_hoodie_partition_path = '1995'").count() == ow.count()
    assert snap.filter(
        "_hoodie_partition_path = '1995' and o_orderpriority <> 'OW'").count() == 0
    other = orders.filter("year(o_orderdate) <> 1995").count()
    assert snap.count() == other + ow.count()

    tbl.delete_partitions(["1995"])
    assert tbl.snapshot().filter("_hoodie_partition_path='1995'").count() == 0
    assert tbl.snapshot().count() == other

    tbl.insert_overwrite_table(orders.limit(100))
    assert tbl.snapshot().count() == 100


def test_composite_key(spark, orders, lineitem, tmp_table_path):
    """ComplexKeyGenerator equivalent: composite (o_orderkey, o_custkey)."""
    tbl = HoodieTable.create(spark, tmp_table_path, "orders_ck",
                             recordkey_fields=["o_orderkey", "o_custkey"],
                             precombine_field="o_orderdate",
                             partition_expr="date_format(o_orderdate,'yyyy')")
    tbl.bulk_insert(orders)
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    key = snap.limit(1).collect()[0]["_hoodie_record_key"]
    assert key.startswith("o_orderkey:") and ",o_custkey:" in key
    upd = orders.filter("o_orderkey % 100 = 0").withColumn(
        "o_totalprice", F.lit(999.0))
    tbl.upsert(upd)
    assert tbl.snapshot().filter("o_totalprice = 999.0").count() == upd.count()
    assert tbl.snapshot().count() == orders.count()


def test_bulk_insert_keeps_duplicate_keys(spark, lineitem, tmp_table_path):
    """bulk_insert without combine preserves duplicate keys (Hudi inserts
    without dedup when hoodie.combine.before.insert=false); the synthetic
    lineitem has non-unique (l_orderkey, l_linenumber) pairs."""
    tbl = HoodieTable.create(spark, tmp_table_path, "lineitem",
                             recordkey_fields=["l_orderkey", "l_linenumber"],
                             precombine_field="l_shipdate",
                             partition_fields=["l_returnflag"])
    tbl.bulk_insert(lineitem)
    assert tbl.snapshot().count() == lineitem.count()


def test_partial_update_payload(spark, customer, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"],
                             payload=MergePolicy.PARTIAL_UPDATE,
                             write_config=WriteConfig(index_type=IndexType.GLOBAL_BLOOM))
    tbl.bulk_insert(customer)
    pu = customer.filter("c_custkey % 3 = 0").select(
        "c_custkey", F.lit(999.0).alias("c_acctbal"))
    tbl.upsert(pu)
    snap = tbl.snapshot()
    assert snap.count() == customer.count()
    hit = snap.filter("c_acctbal = 999.0")
    assert hit.count() == pu.count()
    assert hit.filter("c_name is null").count() == 0  # untouched fields kept


def test_partial_update_opens_new_file_groups(spark, customer, tmp_table_path):
    """A partial-update batch mixing updates with new keys: with small-file
    packing off the new keys open new file groups, and the per-group merge
    must write them (they have no stored row to join) while keeping the
    untouched fields of the updated rows."""
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"],
                             payload=MergePolicy.PARTIAL_UPDATE,
                             write_config=WriteConfig(parquet_small_file_limit=0))
    tbl.bulk_insert(customer.filter("c_custkey < 100"))
    pu = customer.filter("c_custkey % 3 = 0 and c_custkey < 200").select(
        "c_custkey", F.lit(999.0).alias("c_acctbal"))
    tbl.upsert(pu)
    snap = tbl.snapshot()
    assert snap.count() == 116
    assert snap.filter("c_acctbal = 999.0").count() == pu.count()
    # updated rows keep their stored fields; new keys carry only c_acctbal
    assert snap.filter("c_custkey < 100 and c_name is null").count() == 0
    assert snap.filter("c_custkey >= 100 and c_name is null").count() == 16


def test_untouched_small_file_keeps_its_slice(spark, customer, tmp_table_path):
    """A small file in the insert plan whose hash range draws no insert is
    read by the merge job but not rewritten: only the group that got the
    new key has a new slice, and nothing is marked replaced."""
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"])
    tbl.bulk_insert(customer.filter("c_custkey < 50"))
    tbl.bulk_insert(customer.filter("c_custkey >= 50 and c_custkey < 100"))
    before = {sl.file_id: sl.base_file.file_name for sl in tbl.view().latest_slices()}
    assert len(before) >= 2  # one partition, two small base files
    res = tbl.upsert(customer.filter("c_custkey = 120"))
    after = {sl.file_id: sl.base_file.file_name for sl in tbl.view().latest_slices()}
    assert set(after) == set(before)  # packed, no new group
    changed = [fid for fid in before if after[fid] != before[fid]]
    assert len(changed) == 1
    assert [s["file_id"] for s in res.stats] == changed
    md = tbl.timeline.metadata(tbl.timeline.completed()[-1])
    assert md["replaced"] == {}
    assert tbl.snapshot().count() == 101


def test_key_in_two_file_groups_is_updated_and_deleted_in_both(
        spark, customer, tmp_table_path):
    """``insert`` skips the index, so re-inserting a stored key with
    packing off puts a second copy in a new file group. The index tags an
    upsert or delete of that key to both groups, and each group's merge
    must apply it: an update rewrites both copies, a delete removes
    both."""
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"],
                             write_config=WriteConfig(parquet_small_file_limit=0))
    tbl.bulk_insert(customer.filter("c_custkey < 100"))
    tbl.insert(customer.filter("c_custkey in (5, 6)"))
    assert len(tbl.view().latest_slices()) == 2
    assert tbl.snapshot().filter("c_custkey = 5").count() == 2
    tbl.upsert(customer.filter("c_custkey = 6").withColumn("c_acctbal", F.lit(999.0)))
    six = tbl.snapshot().filter("c_custkey = 6")
    assert six.count() == 2
    assert six.filter("c_acctbal != 999.0").count() == 0  # no stale copy
    tbl.delete(customer.filter("c_custkey = 5"))
    snap = tbl.snapshot()
    assert snap.filter("c_custkey = 5").count() == 0
    assert snap.filter("c_custkey < 100 and c_custkey != 6").count() == 98


def test_filter_exists_and_read_keys(spark, customer, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"])
    tbl.bulk_insert(customer.filter("c_custkey < 100"))
    mixed = customer.filter("c_custkey < 120")
    fresh = tbl.filter_exists(mixed)
    assert fresh.count() == customer.filter(
        "c_custkey >= 100 and c_custkey < 120").count()
    got = tbl.read_keys(customer.filter("c_custkey in (1, 5, 500)"))
    assert got.count() == 2  # 500 was never written


def test_read_keys_prunes_scan(spark, customer, tmp_table_path):
    """A point lookup must NOT scan the whole table: globally-sorted bulk
    insert yields disjoint per-file key ranges, so the manifest range prune
    should cut the scan to a strict subset of live files."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "customer", recordkey_fields=["c_custkey"],
        write_config=WriteConfig(parquet_max_file_size=8 * 1024,
                                 record_size_estimate=512))
    tbl.bulk_insert(customer)
    n_files = len(tbl.snapshot().inputFiles())
    assert n_files >= 4  # sizing produced a multi-file table
    got = tbl.read_keys(customer.filter("c_custkey = 7"))
    assert got.count() == 1
    assert len(got.inputFiles()) <= max(1, n_files // 2)
    # exists() takes the same pruned plan
    ex = tbl.exists_keys(customer.filter("c_custkey in (7, 999999)"))
    assert ex.count() == 1


def test_schema_evolution_add_column(spark, customer, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"])
    tbl.bulk_insert(customer)
    upd = customer.limit(10).withColumn("loyalty_tier", F.lit("gold"))
    tbl.upsert(upd)
    snap = tbl.snapshot()
    assert "loyalty_tier" in snap.columns
    assert snap.filter("loyalty_tier = 'gold'").count() == 10
    # old rows read as null for the new column
    assert snap.filter("loyalty_tier is null").count() == customer.count() - 10


def test_soft_delete_flag(spark, customer, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "customer",
                             recordkey_fields=["c_custkey"])
    tbl.bulk_insert(customer)
    soft = customer.filter("c_custkey % 11 = 0").withColumn(
        "_hoodie_is_deleted", F.lit(True))
    tbl.upsert(soft)
    assert tbl.snapshot().count() == customer.filter("c_custkey % 11 <> 0").count()


def test_read_keys_mor_with_deltas(spark, customer, tmp_table_path):
    """MOR key lookup: slices with log files are never pruned by base-file
    key ranges (a delta row may hold the key), and the merged value wins."""
    from hoodie_spark import TableType

    tbl = HoodieTable.create(
        spark, tmp_table_path, "customer", recordkey_fields=["c_custkey"],
        precombine_field="c_acctbal",
        table_type=TableType.MERGE_ON_READ,
        write_config=WriteConfig(parquet_max_file_size=8 * 1024,
                                 record_size_estimate=512))
    tbl.bulk_insert(customer)
    tbl.upsert(customer.filter("c_custkey = 77")
               .withColumn("c_acctbal", F.lit(1e9)))
    got = tbl.read_keys(customer.filter("c_custkey in (7, 77)"))
    rows = {r.c_custkey: r.c_acctbal for r in got.collect()}
    assert set(rows) == {7, 77}
    assert rows[77] == 1e9  # the delta value, not the base row
