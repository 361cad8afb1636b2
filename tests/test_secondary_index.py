"""Secondary index: non-key column value → file-group pruning (public
Hudi-1.0 design; extension beyond this reference snapshot)."""

from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark import secondary_index as si


def _table(spark, path):
    return HoodieTable.create(
        spark, path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")


def test_lookup_prunes_to_indexed_groups(spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    tbl.create_secondary_index("o_custkey")
    assert si.exists(tbl, "o_custkey")

    key = orders.first().o_custkey
    expected = orders.filter(F.col("o_custkey") == key).count()
    got = tbl.read_by_column("o_custkey", [key])
    assert got.count() == expected

    # pruning evidence: candidate groups are a strict subset of live groups
    groups = si.lookup_groups(
        tbl, "o_custkey",
        spark.createDataFrame([(key,)], ["value"]))
    n_live = len(tbl.view().latest_slices())
    assert groups and len(groups) < n_live


def test_index_maintained_across_commits(spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    tbl.create_secondary_index("o_custkey")
    # new rows with a brand-new custkey in a NEW partition — the per-commit
    # harvest must make them findable (false negative otherwise)
    fresh = (orders.limit(4)
             .withColumn("o_orderkey", F.col("o_orderkey") + 9_000_000)
             .withColumn("o_custkey", F.lit(987654321).cast("long"))
             .withColumn("o_orderdate", F.expr("o_orderdate + interval 900 days")))
    tbl.upsert(fresh)
    assert tbl.read_by_column("o_custkey", [987654321]).count() == 4

    # updates rewriting a file keep it findable; deleted values only cost
    # I/O (re-filter), never return dropped rows
    key = orders.first().o_custkey
    tbl.delete(orders.filter(F.col("o_custkey") == key)
               .select("o_orderkey", "o_orderdate"))
    assert tbl.read_by_column("o_custkey", [key]).count() == 0

    # compaction drops entries of replaced groups and keeps results exact
    kept = si.compact(tbl, "o_custkey")
    assert kept > 0
    assert tbl.read_by_column("o_custkey", [987654321]).count() == 4


def test_fallback_without_index(spark, orders, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    key = orders.first().o_custkey
    expected = orders.filter(F.col("o_custkey") == key).count()
    assert tbl.read_by_column("o_custkey", [key]).count() == expected


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


def test_legacy_layout_answers_and_moves_into_the_store(spark, orders,
                                                        tmp_table_path):
    """An index written before the generation store — write-once
    ``add-*``/``compacted-*`` dirs (one left by a crashed append) and flat
    ``*.parquet`` files under the column dir — answers as before, with no
    false negatives, takes appends, and its first compact moves it into
    ``gen-000000``."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hoodie_spark.config import FILE_NAME, PARTITION_PATH
    from hoodie_spark.fsview import file_id_of

    tbl = _table(spark, tmp_table_path)
    tbl.bulk_insert(orders)
    snap = tbl.snapshot()
    entries = snap.select(F.col("o_custkey").alias("value"),
                          F.col(PARTITION_PATH).alias("pp"),
                          file_id_of(FILE_NAME).alias("file_id")).distinct()
    part = F.pmod(F.xxhash64("value"), F.lit(3))
    d = os.path.join(tmp_table_path, ".hoodie", "secondary_index",
                     "o_custkey")
    entries.filter(part == 0).write.parquet(
        os.path.join(d, "add-20200101000000000-ab12cd"))
    entries.filter(part == 1).coalesce(1).write.parquet(
        os.path.join(d, "compacted-0badc0de"))
    rows = [r.asDict() for r in entries.filter(part == 2).collect()]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("value", pa.int64()), ("pp", pa.string()),
         ("file_id", pa.string())])), os.path.join(d, "20200101.parquet"))
    os.makedirs(os.path.join(d, "add-20200102000000000-ef34ab",
                             "_temporary", "0"))
    with open(d + ".init", "w") as f:
        f.write("o_custkey")

    values = [r.o_custkey for r in
              snap.select("o_custkey").distinct().limit(6).collect()]
    expected = [snap.filter(F.col("o_custkey") == v).count() for v in values]

    def answers():
        """Per-value reads, after checking that a lookup of every stored
        value names exactly the file groups holding rows."""
        now = tbl.snapshot()
        held = {tuple(r) for r in now.select(
            PARTITION_PATH, file_id_of(FILE_NAME)).distinct().collect()}
        assert si.lookup_groups(
            tbl, "o_custkey",
            now.select(F.col("o_custkey").alias("value"))) == held
        return [tbl.read_by_column("o_custkey", [v]).count() for v in values]

    assert answers() == expected
    fresh = (orders.limit(3)
             .withColumn("o_orderkey", F.col("o_orderkey") + 9_000_000)
             .withColumn("o_custkey", F.lit(987654321).cast("long")))
    tbl.upsert(fresh)  # appended into the legacy generation
    assert tbl.read_by_column("o_custkey", [987654321]).count() == 3
    assert si.compact(tbl, "o_custkey") > 0
    assert os.listdir(d) == ["gen-000000"]
    with open(d + ".gen") as f:
        assert json.load(f) == {"gen": 0}
    assert answers() == expected
    assert tbl.read_by_column("o_custkey", [987654321]).count() == 3
