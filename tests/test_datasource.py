"""Python DataSource surface: spark.read.format('hoodie_spark') and
spark.readStream.format('hoodie_spark') (reference DefaultSource.scala
batch dispatch + HoodieStreamSource.scala:49-169 commit-offset streaming).

The streaming-parity invariant from streaming/source.py holds here too:
replaying every micro-batch with upsert semantics reconstructs the
snapshot."""

import os
import time

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark.sources import HoodieDataSource


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(HoodieDataSource)


def _sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _mk_cow(spark, path, orders):
    t = HoodieTable.create(spark, path, "dsrc", ["o_orderkey"], "o_orderdate",
                           partition_expr="date_format(o_orderdate,'yyyy')")
    t.bulk_insert(orders)
    t.upsert(orders.filter("o_orderkey % 10 = 0")
             .withColumn("o_totalprice", F.col("o_totalprice") + 1.0))
    t.delete(orders.filter("o_orderkey % 17 = 3").select("o_orderkey"))
    return t


def test_batch_snapshot_matches_native(spark, orders, tmp_table_path):
    t = _mk_cow(spark, tmp_table_path, orders)
    via_ds = spark.read.format("hoodie_spark").load(t.base_path)
    native = t.snapshot()
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert via_ds.schema == native.schema
    assert _sorted(via_ds, cols) == _sorted(native, cols)


def test_batch_incremental_and_time_travel(spark, orders, tmp_table_path):
    t = _mk_cow(spark, tmp_table_path, orders)
    commits = [c["instant"] for c in t.commits()]
    c1 = commits[0]
    inc = (spark.read.format("hoodie_spark")
           .option("queryType", "incremental")
           .option("beginInstant", c1).load(t.base_path))
    native = t.incremental(begin=c1)
    cols = ["o_orderkey", "o_totalprice"]
    assert _sorted(inc, cols) == _sorted(native, cols)

    asof = (spark.read.format("hoodie_spark")
            .option("asOfInstant", c1).load(t.base_path))
    assert _sorted(asof, cols) == _sorted(t.snapshot(as_of=c1), cols)


def test_batch_mor_snapshot_resolves_slices(spark, events, tmp_table_path):
    t = HoodieTable.create(spark, tmp_table_path, "ds_mor", ["event_id"],
                           precombine_field="ts",
                           partition_fields=["event_type"],
                           table_type=TableType.MERGE_ON_READ)
    ev = events.limit(2000).cache()
    t.bulk_insert(ev)
    t.upsert(ev.filter("event_id % 5 = 0")
             .withColumn("value", F.col("value") + 10000.0)
             .withColumn("ts", F.expr("ts + interval 1 hour")))
    t.delete(ev.filter("event_id % 7 = 0").select("event_id", "event_type"))
    via_ds = spark.read.format("hoodie_spark").load(t.base_path)
    native = t.snapshot()
    cols = ["event_id", "value"]
    assert _sorted(via_ds, cols) == _sorted(native, cols)

    ro = (spark.read.format("hoodie_spark")
          .option("queryType", "read_optimized").load(t.base_path))
    assert _sorted(ro, cols) == _sorted(t.read_optimized(), cols)


def test_readstream_replay_equals_snapshot(spark, orders, tmp_table_path):
    """Subscribe with readStream, drain with availableNow, replay with
    upsert semantics -> equals the table snapshot (delete rows arrive as
    tombstone versions whose keys left the snapshot)."""
    src = HoodieTable.create(
        spark, os.path.join(tmp_table_path, "src"), "st", ["o_orderkey"],
        "o_orderdate", partition_expr="date_format(o_orderdate,'yyyy')")
    src.bulk_insert(orders.limit(800))
    src.upsert(orders.limit(400)
               .withColumn("o_orderstatus", F.lit("U")))

    out: dict[int, tuple] = {}

    def absorb(batch_df, batch_id):
        for r in batch_df.collect():
            out[r["o_orderkey"]] = (r["o_orderstatus"], r["_hoodie_commit_time"])

    q = (spark.readStream.format("hoodie_spark").load(src.base_path)
         .writeStream.foreachBatch(absorb)
         .option("checkpointLocation", os.path.join(tmp_table_path, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    snap = {r["o_orderkey"]: (r["o_orderstatus"], r["_hoodie_commit_time"])
            for r in src.snapshot().collect()}
    assert out == snap

    # new commit: restart from the checkpoint, only the delta arrives
    src.upsert(orders.limit(100).withColumn("o_orderstatus", F.lit("V")))
    seen_batches = []

    def absorb2(batch_df, batch_id):
        rows = batch_df.collect()
        seen_batches.append(len(rows))
        for r in rows:
            out[r["o_orderkey"]] = (r["o_orderstatus"], r["_hoodie_commit_time"])

    q = (spark.readStream.format("hoodie_spark").load(src.base_path)
         .writeStream.foreachBatch(absorb2)
         .option("checkpointLocation", os.path.join(tmp_table_path, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert sum(seen_batches) == 100  # only the new commit's rows
    snap = {r["o_orderkey"]: (r["o_orderstatus"], r["_hoodie_commit_time"])
            for r in src.snapshot().collect()}
    assert out == snap


def test_readstream_start_offset_latest(spark, orders, tmp_table_path):
    src = HoodieTable.create(
        spark, os.path.join(tmp_table_path, "src2"), "st2", ["o_orderkey"],
        "o_orderdate")
    src.bulk_insert(orders.limit(500))
    rows = []

    def absorb(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (spark.readStream.format("hoodie_spark")
         .option("startOffset", "latest").load(src.base_path)
         .writeStream.foreachBatch(absorb)
         .option("checkpointLocation", os.path.join(tmp_table_path, "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert rows == []  # nothing after the start offset yet


def test_write_format_upsert_and_overwrite(spark, orders, tmp_table_path,
                                           _register):
    """df.write.format("hoodie_spark"): rows stage in parallel, the real
    write path (tagging, packing, timeline) runs at commit."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "dswrite", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.bulk_insert(orders.limit(300))
    upd = orders.limit(60).withColumn("o_orderstatus", F.lit("W"))
    (upd.write.format("hoodie_spark").mode("append")
     .option("operation", "upsert").save(tmp_table_path))
    tbl = HoodieTable.load(spark, tmp_table_path)
    snap = tbl.snapshot()
    assert snap.count() == 300  # upsert, not append-duplicates
    assert snap.filter("o_orderstatus = 'W'").count() == 60
    # staging fully cleaned
    stage = os.path.join(tmp_table_path, ".hoodie", ".staging")
    assert not os.path.isdir(stage) or os.listdir(stage) == []
    # the timeline carries a real commit (not a parquet append)
    assert tbl.timeline.completed()[-1].action in ("commit", "deltacommit")


def test_writestream_format_exactly_once(spark, orders, tmp_table_path,
                                         _register):
    """df.writeStream.format("hoodie_spark"): micro-batches commit with
    streaming_batch_id metadata; a checkpoint replay is skipped."""
    src_dir = os.path.join(tmp_table_path, "src")
    tpath = os.path.join(tmp_table_path, "tbl")
    ckpt = os.path.join(tmp_table_path, "ckpt")
    orders.limit(120).write.parquet(src_dir)
    tbl = HoodieTable.create(
        spark, tpath, "dsstream", ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(40).withColumn(
        "o_orderstatus", F.lit("OLD")))

    def run():
        q = (spark.readStream.schema(orders.schema).parquet(src_dir)
             .writeStream.format("hoodie_spark")
             .option("operation", "upsert")
             .option("checkpointLocation", ckpt)
             .option("path", tpath)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    run()
    tbl = HoodieTable.load(spark, tpath)
    n1 = tbl.snapshot().count()
    assert n1 == 120  # the 40 OLD keys were upserted, 80 new inserted
    commits1 = len(tbl.timeline.completed())
    md = tbl.timeline.metadata(tbl.timeline.completed()[-1])
    assert md.get("extra", {}).get("streaming_batch_id") is not None
    run()  # restart with the same checkpoint: availableNow replays nothing
    tbl = HoodieTable.load(spark, tpath)
    assert tbl.snapshot().count() == n1
    assert len(tbl.timeline.completed()) == commits1


def test_datasource_overwrite_replaces_whole_table(spark, orders,
                                                   tmp_table_path):
    """SaveMode.Overwrite = full-table overwrite (Hudi's DefaultSource
    maps it to INSERT_OVERWRITE_TABLE), not partition-scoped."""
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


def test_datasource_commit_sweeps_stale_staging(spark, orders,
                                                tmp_table_path):
    """Staged parquet from failed/speculative task attempts never appears
    in a commit message; commit() must sweep aged leftovers instead of
    leaking them in .hoodie/.staging forever. Fresh files (a concurrent
    writer's in-flight tasks) must survive."""
    from hoodie_spark.sources import HoodieDataSource

    spark.dataSource.register(HoodieDataSource)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "sweep", ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(100))

    stage = os.path.join(tmp_table_path, ".hoodie", ".staging")
    os.makedirs(stage, exist_ok=True)
    stale = os.path.join(stage, "part-deadbeef.parquet")
    fresh = os.path.join(stage, "part-cafebabe.parquet")
    for f in (stale, fresh):
        with open(f, "wb") as fh:
            fh.write(b"x")
    old = time.time() - 7200
    os.utime(stale, (old, old))

    upd = orders.limit(20).withColumn("o_orderstatus", F.lit("S"))
    (upd.write.format("hoodie_spark").mode("append")
     .option("operation", "upsert")
     .option("stagingTTL", "3600")  # default is 24h; route via the option
     .save(tmp_table_path))

    assert not os.path.exists(stale), "aged orphan staging file leaked"
    assert os.path.exists(fresh), "fresh (possibly in-flight) file removed"
    snap = HoodieTable.load(spark, tmp_table_path).snapshot()
    assert snap.filter("o_orderstatus = 'S'").count() == 20
