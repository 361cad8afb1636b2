"""Record-level index: tagging equivalence with the scan path."""

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, WriteConfig
from hoodie_spark import record_index

SF_DIR = "/root/testdata/sf0.001"


def _chain(spark, path, use_index):
    """insert → upsert → key-only delete → cluster → upsert again."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cfg = WriteConfig(record_index=use_index,
                      parquet_max_file_size=256 * 1024,
                      parquet_small_file_limit=200 * 1024)
    tbl = HoodieTable.create(spark, path, "ri", ["o_orderkey"], "o_orderdate",
                             partition_expr="date_format(o_orderdate,'yyyy')",
                             write_config=cfg)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_orderstatus", F.lit("X")))
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey"))
    tbl.cluster(sort_cols=["o_custkey"], target_file_size=64 * 1024 * 1024)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 11 == 1)
               .withColumn("o_orderpriority", F.lit("RI")))
    return tbl


def test_index_matches_scan_path(spark, tmp_table_path):
    import os

    a = _chain(spark, os.path.join(tmp_table_path, "idx"), True)
    b = _chain(spark, os.path.join(tmp_table_path, "scan"), False)
    assert record_index.exists(a)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    ra = sorted(tuple(r) for r in a.snapshot().select(*cols).collect())
    rb = sorted(tuple(r) for r in b.snapshot().select(*cols).collect())
    assert ra == rb
    # no duplicate keys ever
    n = a.snapshot().count()
    assert a.snapshot().select("o_orderkey").distinct().count() == n


def test_enable_on_existing_table_backfills(spark, tmp_table_path):
    """Turning record_index on for a pre-existing table must backfill from
    ALL live file slices: keys in file groups the first post-enable write
    doesn't touch would otherwise tag as inserts and duplicate."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # create WITHOUT the index, spread over many small files
    tbl = HoodieTable.create(
        spark, tmp_table_path, "ri5", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024,
                                 parquet_small_file_limit=200 * 1024))
    tbl.bulk_insert(orders)
    assert not record_index.exists(tbl)

    # reopen with the flag on; first write touches only a few keys
    tbl2 = HoodieTable.load(
        spark, tmp_table_path,
        write_config=WriteConfig(record_index=True,
                                 parquet_max_file_size=256 * 1024,
                                 parquet_small_file_limit=200 * 1024))
    tbl2.upsert(orders.filter(F.col("o_orderkey") % 50 == 0)
                .withColumn("o_orderstatus", F.lit("E")))
    assert record_index.exists(tbl2)
    # keys in untouched groups must update in place, not duplicate
    tbl2.upsert(orders.withColumn("o_orderpriority", F.lit("ALL")))
    snap = tbl2.snapshot()
    assert snap.count() == orders.count()
    assert snap.select("o_orderkey").distinct().count() == orders.count()
    assert snap.filter("o_orderpriority = 'ALL'").count() == orders.count()


def test_index_survives_rollback(spark, tmp_table_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(spark, tmp_table_path, "ri2", ["o_orderkey"],
                             "o_orderdate",
                             write_config=WriteConfig(record_index=True))
    tbl.bulk_insert(orders)
    c2 = tbl.delete(orders.filter(F.col("o_orderkey") % 2 == 0)
                    .select("o_orderkey")).instant
    tbl.rollback(c2)
    # rolled-back removals must not make those keys look absent
    tbl.upsert(orders.filter(F.col("o_orderkey") % 2 == 0)
               .withColumn("o_orderstatus", F.lit("B")))
    snap = tbl.snapshot()
    assert snap.count() == orders.count()  # upsert updated, didn't duplicate
    assert snap.filter("o_orderstatus = 'B'").count() == \
        orders.filter("o_orderkey % 2 = 0").count()


def test_index_point_lookup_consistency(spark, tmp_table_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(spark, tmp_table_path, "ri3", ["o_orderkey"],
                             "o_orderdate",
                             write_config=WriteConfig(record_index=True))
    tbl.bulk_insert(orders)
    idx = record_index.lookup(tbl)
    assert idx.count() == orders.count()
    # filter_exists goes through the index path
    new = orders.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    only_new = tbl.filter_exists(orders.unionByName(new))
    assert only_new.count() == orders.count()  # existing half filtered out


def test_index_compaction(spark, tmp_table_path):
    import os

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "ri4", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(record_index=True, cleaner_commits_retained=2))
    tbl.bulk_insert(orders)
    for i in (3, 5, 9):  # several commits -> several appended index files
        tbl.upsert(orders.filter(F.col("o_orderkey") % i == 0)
                   .withColumn("o_orderstatus", F.lit(f"C{i}")))
    before = record_index.lookup(tbl).collect()

    def n_files():
        return sum(1 for _r, _d, fs in os.walk(record_index.index_dir(tbl))
                   for f in fs if f.endswith(".parquet"))

    files_before = n_files()
    folded = record_index.compact(tbl)
    assert folded > 0 and n_files() < files_before
    after = record_index.lookup(tbl).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # writes after compaction still tag correctly
    tbl.upsert(orders.filter(F.col("o_orderkey") % 4 == 1)
               .withColumn("o_orderstatus", F.lit("Z")))
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.filter("o_orderstatus = 'Z'").count() == \
        orders.filter("o_orderkey % 4 = 1").count()


def test_aborted_cluster_leaves_index_untouched(spark, tmp_table_path):
    """A cluster aborted at commit (here by a pre-commit validator) must
    leave no index entries behind: entries naming its deleted files would
    be the latest for each key, lookup would drop the key, and the next
    upsert would tag it as an insert and duplicate the row."""
    from hoodie_spark.validators import PreCommitValidationError

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "ri6", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(record_index=True,
                                 parquet_small_file_limit=0))
    tbl.bulk_insert(orders)
    n = orders.count()
    assert record_index.lookup(tbl).count() == n

    def reject(ctx):
        raise PreCommitValidationError("cluster rejected")

    tbl.write_config.pre_commit_validators = [reject]
    with pytest.raises(PreCommitValidationError):
        tbl.cluster()
    tbl.write_config.pre_commit_validators = []
    assert record_index.lookup(tbl).count() == n

    tbl.upsert(orders.withColumn("o_orderstatus", F.lit("U")))
    snap = tbl.snapshot()
    assert snap.count() == n
    assert snap.select("o_orderkey").distinct().count() == n


def test_read_and_exists_keys_use_the_index(spark, tmp_table_path):
    """read_keys / exists_keys on a record-index table prune through the
    index and answer exactly as the index-less path does."""
    import os

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 9 == 2).select("o_orderkey")
            .unionByName(spark.range(10_000_000, 10_000_005)
                         .withColumnRenamed("id", "o_orderkey")))
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    answers = []
    for use_index in (True, False):
        tbl = HoodieTable.create(
            spark, os.path.join(tmp_table_path, str(use_index)), "rk",
            ["o_orderkey"], "o_orderdate",
            partition_expr="cast(year(o_orderdate) as string)",
            write_config=WriteConfig(record_index=use_index))
        tbl.bulk_insert(orders)
        tbl.upsert(orders.filter(F.col("o_orderkey") % 4 == 2)
                   .withColumn("o_orderstatus", F.lit("K")))
        assert record_index.exists(tbl) == use_index
        answers.append((
            sorted(map(tuple, tbl.read_keys(keys).select(*cols).collect())),
            sorted(r[0] for r in tbl.exists_keys(keys).collect())))
    assert answers[0] == answers[1]
    assert len(answers[0][1]) == orders.filter("o_orderkey % 9 = 2").count()


@pytest.mark.parametrize("layout", ["flat", "bare_pointer"])
def test_legacy_layouts_answer_and_move_into_the_store(spark, tmp_table_path,
                                                       layout):
    """Indexes written before the generation store keep answering exactly
    as before: the flat pre-generation bucket dirs, and a ``.gen`` pointer
    holding a bare generation number (with a stale flat bucket dir and a
    stale generation beside it, as a crashed sweep left them). The first
    compact moves each into the store's next generation."""
    import json
    import os

    from hoodie_spark.config import (COMMIT_TIME, FILE_NAME, PARTITION_PATH,
                                     RECORD_KEY)
    from hoodie_spark.fsview import file_id_of

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "ril", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 3 == 0)
               .withColumn("o_orderstatus", F.lit("L")))
    located = tbl.snapshot().select(
        RECORD_KEY, PARTITION_PATH, file_id_of(FILE_NAME).alias("file_id"),
        F.col(COMMIT_TIME).alias("instant"))
    expected = sorted(map(tuple, located.collect()))
    # each key's location, plus an older entry naming a stale group for
    # every fifth key: latest-wins must ignore it
    entries = (located.withColumn("op", F.lit("A"))
               .unionByName(located.filter(F.col(RECORD_KEY) % 5 == 0)
                            .withColumn("file_id", F.lit("stale"))
                            .withColumn("instant", F.lit("0"))
                            .withColumn("op", F.lit("A"))))

    def write_buckets(df, path):
        (df.withColumn("bucket", F.pmod(F.xxhash64(RECORD_KEY), F.lit(4)))
         .write.partitionBy("bucket").parquet(path))

    d = record_index.index_dir(tbl)
    if layout == "flat":
        write_buckets(entries, d)
        moved_to = 0
    else:
        write_buckets(entries, os.path.join(d, "gen-000002"))
        bogus = located.withColumn("file_id", F.lit("bogus")) \
            .withColumn("instant", F.lit("9")).withColumn("op", F.lit("R"))
        write_buckets(bogus, os.path.join(d, "gen-000001"))
        write_buckets(bogus.limit(10), os.path.join(d, "flat"))
        os.rename(os.path.join(d, "flat", "bucket=0"),
                  os.path.join(d, "bucket=0"))
        with open(d + ".gen", "w") as f:
            f.write("2")
        moved_to = 3
    with open(d + ".init", "wb") as f:
        f.write(b"initialized")

    tbl = HoodieTable.load(spark, tmp_table_path, write_config=WriteConfig(
        record_index=True, cleaner_commits_retained=1))

    def answer():
        return sorted(map(tuple, record_index.lookup(tbl).select(
            *located.columns).collect()))

    assert answer() == expected
    assert record_index.compact(tbl) > 0
    assert os.listdir(d) == [f"gen-{moved_to:06d}"]
    with open(d + ".gen") as f:
        assert json.load(f) == {"gen": moved_to}
    assert answer() == expected
    # tagging reads the moved index: updates stay updates
    tbl.upsert(orders.withColumn("o_orderpriority", F.lit("M")))
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    assert snap.select("o_orderkey").distinct().count() == orders.count()
