"""CALL procedures + CREATE/DROP INDEX SQL surface (parser + spark.sql)."""

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark import secondary_index as si
from hoodie_spark.sql.parser import run_sql


@pytest.fixture()
def mor(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_p", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 5 == 0)
               .withColumn("o_orderstatus", F.lit("Z")))
    return tbl


def test_call_run_compaction_and_show_commits(spark, mor):
    tables = {"orders_p": mor}
    inst = run_sql(spark, "CALL run_compaction(table => 'orders_p')", tables)
    assert inst is not None
    ro = mor.read_optimized().filter("o_orderkey % 5 = 0")
    assert ro.select("o_orderstatus").distinct().collect()[0][0] == "Z"

    commits = run_sql(
        spark, "CALL show_commits(table => 'orders_p', limit => 10)", tables)
    rows = commits.collect()
    assert {r.action for r in rows} >= {"commit", "deltacommit", "compaction"} \
        or len(rows) >= 3
    assert commits.columns == ["commit_time", "action", "state"]


def test_call_rollback_and_savepoint(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_rbp", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    c1 = tbl.bulk_insert(orders).instant
    tables = {"orders_rbp": tbl}
    run_sql(spark, f"CALL create_savepoint(table => 'orders_rbp', "
                   f"instant_time => '{c1}')", tables)
    c2 = tbl.upsert(orders.limit(10)
                    .withColumn("o_orderpriority", F.lit("BAD"))).instant
    run_sql(spark, f"CALL rollback_to_instant(table => 'orders_rbp', "
                   f"instant_time => '{c2}')", tables)
    assert tbl.snapshot().filter("o_orderpriority = 'BAD'").count() == 0
    assert tbl.snapshot().count() == orders.count()


def test_call_run_clustering_layout(spark, orders, tmp_table_path):
    from hoodie_spark import WriteConfig
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_cl", ["o_orderkey"], "o_orderdate",
        partition_expr="'all'",
        write_config=WriteConfig(parquet_max_file_size=64 * 1024,
                                 parquet_small_file_limit=60 * 1024))
    tbl.bulk_insert(orders)
    tbl.write_config.parquet_max_file_size = 512 * 1024
    tbl.write_config.clustering_small_file_limit = 512 * 1024
    inst = run_sql(
        spark, "CALL run_clustering(table => 'orders_cl', "
               "order => 'o_custkey,o_totalprice', layout => 'zorder')",
        {"orders_cl": tbl})
    assert inst is not None
    assert tbl.snapshot().count() == orders.count()


def test_call_errors(spark, mor):
    with pytest.raises(ValueError, match="unknown procedure"):
        run_sql(spark, "CALL nope(table => 'orders_p')", {"orders_p": mor})
    with pytest.raises(ValueError, match="unknown hoodie table"):
        run_sql(spark, "CALL run_clean(table => 'ghost')", {})


def test_create_drop_index_sql(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_ix", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders)
    tables = {"orders_ix": tbl}
    run_sql(spark, "CREATE INDEX cust_idx ON orders_ix (o_custkey)", tables)
    assert si.exists(tbl, "o_custkey")
    key = orders.first().o_custkey
    exp = orders.filter(F.col("o_custkey") == key).count()
    assert tbl.read_by_column("o_custkey", [key]).count() == exp
    run_sql(spark, "DROP INDEX o_custkey ON orders_ix", tables)
    assert not si.exists(tbl, "o_custkey")


def test_spark_sql_native_call_and_index(spark, orders, tmp_table_path):
    from hoodie_spark.sql import disable, enable

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_nat", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders)
    enable(spark, {"orders_nat": tbl})
    try:
        out = spark.sql("CALL show_commits(table => 'orders_nat', limit => 3)")
        assert out.count() >= 1 and "commit_time" in out.columns
        spark.sql("CREATE INDEX ci ON orders_nat (o_custkey)")
        assert si.exists(tbl, "o_custkey")
        spark.sql("DROP INDEX o_custkey ON orders_nat")
        assert not si.exists(tbl, "o_custkey")
        # non-hoodie CALL-less statements still pass through untouched
        assert spark.sql("SELECT 1 AS x").first().x == 1
    finally:
        disable(spark)


def test_show_fsview_and_savepoints(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_fv", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    c1 = tbl.bulk_insert(orders).instant
    tbl.savepoint(c1)
    tables = {"orders_fv": tbl}
    fv = run_sql(spark, "CALL show_fsview_all(table => 'orders_fv')", tables)
    assert fv.count() == len(tbl.view().latest_slices())
    assert set(fv.columns) == {"partition", "file_id", "base_instant",
                               "base_file", "base_size", "num_active_logs"}
    sp = run_sql(spark, "CALL show_savepoints(table => 'orders_fv')", tables)
    assert [r.savepoint_time for r in sp.collect()] == [c1]
    assert "created_at" in sp.columns


def test_read_by_column_as_of(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_rbc", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    c1 = tbl.bulk_insert(orders).instant
    tbl.create_secondary_index("o_custkey")
    key = orders.first().o_custkey
    n_before = orders.filter(F.col("o_custkey") == key).count()
    # move every row with that custkey to a new custkey
    tbl.upsert(orders.filter(F.col("o_custkey") == key)
               .withColumn("o_custkey", F.lit(111222333).cast("long")))
    assert tbl.read_by_column("o_custkey", [key]).count() == 0
    # as-of the first commit the old value is still there
    assert tbl.read_by_column("o_custkey", [key], as_of=c1).count() == n_before


def test_maintenance_procedures(spark, orders, tmp_table_path):
    """CALL surface for the round-5 services: failed-write reclamation,
    bucket rescale, partition repair."""
    from hoodie_spark.config import IndexType, WriteConfig
    from hoodie_spark.sql.parser import run_sql

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_mx", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(index_type=IndexType.BUCKET,
                                 bucket_index_num_buckets=4))
    tbl.bulk_insert(orders)
    n = orders.count()
    tables = {"orders_mx": tbl}

    assert run_sql(spark,
                   "CALL rollback_failed_writes(table => 'orders_mx')",
                   tables) == []
    inst = run_sql(spark,
                   "CALL run_rescale(table => 'orders_mx', num_buckets => 8)",
                   tables)
    assert inst is not None
    assert tbl.config.bucket_index_num_buckets == 8
    assert tbl.snapshot().count() == n

    part = sorted(tbl.view().partitions())[0]
    assert run_sql(
        spark,
        f"CALL repair_deduplicate(table => 'orders_mx', "
        f"partition => '{part}', dry_run => true)", tables) == 0


def test_show_procedures_round6(spark, tmp_table_path):
    """show_rollbacks / show_cleans / show_compaction / show_clustering /
    show_archived_timeline return inspectable DataFrames."""
    from pyspark.sql import functions as F

    from hoodie_spark import HoodieTable, TableType
    from hoodie_spark.sql.parser import run_sql

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "showp", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.limit(20).withColumn("o_orderstatus", F.lit("X")))
    tbl.compact()
    up = tbl.upsert(orders.limit(5).withColumn("o_orderstatus", F.lit("Y")))
    tbl.rollback(up.instant)
    tbl.upsert(orders.limit(3).withColumn("o_orderstatus", F.lit("Z")))
    tbl.clean(retained=1)
    t = {"showp": tbl}
    rb = run_sql(spark, "CALL show_rollbacks(table => 'showp')", t)
    assert rb.count() == 1 and up.instant in rb.first()[1]
    cl = run_sql(spark, "CALL show_cleans(table => 'showp')", t)
    assert cl.count() == 1 and cl.first()["policy"]
    cp = run_sql(spark, "CALL show_compaction(table => 'showp')", t)
    assert cp.count() == 1 and cp.first()["operation"] == "compact"
    arch = run_sql(spark, "CALL show_archived_timeline(table => 'showp')", t)
    assert arch.count() == 0  # nothing archived yet


def test_show_stats_wa(spark, tmp_table_path):
    """hudi-cli `stats wa` parity (StatsCommand.java:60-95): per-commit
    upserted/written counts + write-amplification ratio, plus a Total row.
    An upsert of k rows that lands in one file of n rows has WA n/k."""
    from pyspark.sql import functions as F

    from hoodie_spark import HoodieTable
    from hoodie_spark.sql.parser import run_sql

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "wa", ["o_orderkey"], "o_orderdate")
    n = orders.count()
    tbl.bulk_insert(orders)
    tbl.upsert(orders.limit(10).withColumn("o_orderstatus", F.lit("X")))
    out = {r["commit_time"]: r for r in run_sql(
        spark, "CALL show_stats_wa(table => 'wa')", {"wa": tbl}).collect()}
    assert len(out) == 3  # bulk_insert + upsert + Total
    total = out.pop("Total")
    bulk, ups = sorted(out.values(), key=lambda r: r["commit_time"])
    assert bulk["total_upserted"] == 0 and bulk["total_written"] == n
    assert bulk["write_amplification"] == 0.0  # no updates -> ratio 0
    assert ups["total_upserted"] == 10
    assert ups["total_written"] >= 10  # rewrote whole file groups
    assert ups["write_amplification"] == round(
        ups["total_written"] / 10, 2)
    assert total["total_upserted"] == 10
    assert total["total_written"] == n + ups["total_written"]


def test_show_commit_files_and_filesizes(spark, tmp_table_path):
    """hudi-cli `commit showfiles` + `stats filesizes` parity: per-commit
    file rows from metadata; live base-file size distribution from the
    manifest fold."""
    from pyspark.sql import functions as F

    from hoodie_spark import HoodieTable
    from hoodie_spark.sql.parser import run_sql

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "cf", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    r1 = tbl.bulk_insert(orders)
    tbl.upsert(orders.limit(10).withColumn("o_orderstatus", F.lit("X")))
    t = {"cf": tbl}
    allf = run_sql(spark, "CALL show_commit_files(table => 'cf')", t)
    one = run_sql(spark, "CALL show_commit_files(table => 'cf', "
                         f"instant => '{r1.instant}')", t)
    assert one.count() > 0 and one.count() < allf.count()
    assert one.agg(F.sum("num_records")).first()[0] == orders.count()
    assert {r["commit_time"] for r in one.collect()} == {r1.instant}
    fs = run_sql(spark, "CALL show_stats_filesizes(table => 'cf')", t).first()
    assert fs["num_files"] == len(list(tbl.view().latest_slices()))
    assert fs["min"] <= fs["p50"] <= fs["max"]
    assert fs["total"] >= fs["max"] and fs["avg"] > 0


def test_show_table_properties(spark, tmp_table_path):
    """hudi-cli `desc` parity: persisted table configuration as rows."""
    from hoodie_spark import HoodieTable
    from hoodie_spark.sql.parser import run_sql

    tbl = HoodieTable.create(
        spark, tmp_table_path, "props", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    out = {r["key"]: r["value"] for r in run_sql(
        spark, "CALL show_table_properties(table => 'props')",
        {"props": tbl}).collect()}
    assert out["name"] == "props"
    assert out["recordkey_fields"] == "o_orderkey"
    assert out["precombine_field"] == "o_orderdate"
    assert "year" in out["partition_expr"]
    assert out["base_path"] == tmp_table_path


def test_filesizes_percentile_nearest_rank(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_fs12", ["o_orderkey"], None,
        partition_expr="cast(pmod(o_orderkey, 10) as string)")
    tbl.bulk_insert(orders)
    sizes = sorted(sl.base_file.size for sl in tbl.view().latest_slices()
                   if sl.base_file is not None)
    assert len(sizes) == 10  # one base file per pmod partition
    row = run_sql(spark, "CALL show_stats_filesizes(table => 'orders_fs12')",
                  {"orders_fs12": tbl}).first()
    # nearest-rank: ceil(p*n)-th smallest -> p50 = 5th value, p90 = 9th
    assert row.p50 == sizes[4]
    assert row.p90 == sizes[8]
    assert (row.num_files, row.min, row.max, row.total) == \
        (10, sizes[0], sizes[-1], sum(sizes))
