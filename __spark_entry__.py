"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry exercises one operator from SURVEY.md §2 (write
path, query types, table services, SQL DML, streaming ingest) or one of the
training-data pipeline operators (dedup / similarity / text analysis /
multimodal), and has a DuckDB oracle in ``oracle_sql()`` that reproduces the
same final state from the raw tables.

Determinism notes (what makes the value-hash match engine-to-engine):
  * every floating-point SUM is accumulated as DECIMAL(18,6) of an
    identically-written double expression, then cast back to DOUBLE — the
    decimal sum is an exact rational, so partition order can't change it;
  * all content hashing is md5-hex (identical in Spark and DuckDB); minhash
    is the lexicographic min over md5 hex digests;
  * scenario mutations (which keys get upserted/deleted) are modulo
    predicates on the record key, so the oracle states them in SQL.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark.config import (META_COLUMNS, IndexType, TableType,
                                 WriteConfig)
from hoodie_spark import functions as HF
from hoodie_spark.sources import load_table

# Fixture workspace. MUST be process-private: the fixture cache (_CACHE)
# is in-process, so every process that imports this module rebuilds its
# fixtures from scratch — a shared directory means two overlapping
# processes (a correctness sweep racing a smoke check, or a timed-out but
# still-flushing Spark JVM from a killed attempt) rmtree/rebuild each
# other's tables MID-MUTATION-CHAIN, leaving phantom commits in the
# rebuilt timeline. That is the exact "+2 duplicate rows once, clean on
# every re-run" signature CORRECTNESS_r12 recorded for bloom_index_upsert.
_ROOT = "/tmp/hoodie_spark_entry"
_BASE = os.path.join(_ROOT, str(os.getpid()))
_CACHE: dict = {}


def _reap_stale_workspaces() -> None:
    """Best-effort cleanup of fixture dirs left by dead processes (and the
    pre-round-13 shared layout). Never touches a live pid's dir."""
    try:
        entries = os.listdir(_ROOT)
    except OSError:
        return
    for d in entries:
        p = os.path.join(_ROOT, d)
        if d == str(os.getpid()):
            continue
        if d.isdigit():
            try:
                os.kill(int(d), 0)
                continue  # owner still alive — leave it alone
            except ProcessLookupError:
                pass
            except PermissionError:
                continue
        shutil.rmtree(p, ignore_errors=True)


_reap_stale_workspaces()


def _session(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def _data(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in META_COLUMNS if c in df.columns])


def _fixture(spark: SparkSession, sf_dir: str, name: str) -> dict:
    key = (sf_dir, name)
    if key not in _CACHE:
        path = os.path.join(_BASE, hashlib.md5(sf_dir.encode()).hexdigest()[:8], name)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        _CACHE[key] = _BUILDERS[name](_session(spark), sf_dir, path)
    return _CACHE[key]


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


# --------------------------------------------------------------- fixtures
def _fx_orders_cow(spark, sf_dir, path):
    """bulk_insert → upsert (key%10=0: status X, price+100) → key-only
    delete (key%7=3) → clean."""
    tbl = HoodieTable.create(
        spark, path, "orders_cow", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    c1 = tbl.bulk_insert(orders).instant
    upd = (orders.filter(F.col("o_orderkey") % 10 == 0)
           .withColumn("o_orderstatus", F.lit("X"))
           .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    c2 = tbl.upsert(upd).instant
    c3 = tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
                    .select("o_orderkey")).instant
    tbl.clean()
    return {"tbl": tbl, "c1": c1, "c2": c2, "c3": c3}


def _fx_orders_ow(spark, sf_dir, path):
    """bulk_insert → insert_overwrite of partition 1997 (price+5) →
    delete_partition 1998."""
    tbl = HoodieTable.create(
        spark, path, "orders_ow", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    c1 = tbl.bulk_insert(orders).instant
    ow = (orders.filter(F.year("o_orderdate") == 1997)
          .withColumn("o_totalprice", F.col("o_totalprice") + 5.0))
    c2 = tbl.insert_overwrite(ow).instant
    c3 = tbl.delete_partitions(["1998"]).instant
    return {"tbl": tbl, "c1": c1, "c2": c2, "c3": c3}


def _fx_orders_owt(spark, sf_dir, path):
    tbl = HoodieTable.create(
        spark, path, "orders_owt", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.insert_overwrite_table(orders.filter(F.col("o_orderkey") % 2 == 0))
    return {"tbl": tbl}


def _fx_orders_rb(spark, sf_dir, path):
    """bulk_insert → savepoint → bad upsert → rollback → second bad upsert →
    restore to savepoint. Final state == original load."""
    tbl = HoodieTable.create(
        spark, path, "orders_rb", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    c1 = tbl.bulk_insert(orders).instant
    tbl.savepoint(c1)
    bad = orders.filter(F.col("o_orderkey") % 3 == 0) \
                .withColumn("o_orderpriority", F.lit("BAD"))
    c2 = tbl.upsert(bad).instant
    tbl.rollback(c2)
    c3 = tbl.upsert(bad.withColumn("o_orderpriority", F.lit("BAD2"))).instant
    tbl.restore(c1)
    return {"tbl": tbl, "c1": c1}


def _fx_orders_mor(spark, sf_dir, path, compact=False):
    tbl = HoodieTable.create(
        spark, path, "orders_mor", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    orders = _orders(spark, sf_dir)
    c1 = tbl.bulk_insert(orders).instant
    upd = (orders.filter(F.col("o_orderkey") % 5 == 0)
           .withColumn("o_orderstatus", F.lit("Y"))
           .withColumn("o_totalprice", F.col("o_totalprice") + 50.0))
    c2 = tbl.upsert(upd).instant
    c3 = tbl.delete(orders.filter(F.col("o_orderkey") % 11 == 4)
                    .select("o_orderkey")).instant
    if compact:
        tbl.compact()
    return {"tbl": tbl, "c1": c1, "c2": c2, "c3": c3}


def _fx_orders_mor_c(spark, sf_dir, path):
    return _fx_orders_mor(spark, sf_dir, path, compact=True)


def _fx_orders_cluster(spark, sf_dir, path):
    """Many small files (tiny target file size), then cluster into sorted
    large files; contents must be unchanged."""
    tbl = HoodieTable.create(
        spark, path, "orders_cluster", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024,
                                 parquet_small_file_limit=200 * 1024))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.write_config.parquet_max_file_size = 120 * 1024 * 1024
    tbl.cluster(sort_cols=["o_custkey", "o_orderkey"])
    return {"tbl": tbl}


def _fx_orders_merge(spark, sf_dir, path):
    """MERGE INTO: matched+price>50000 update, matched else delete,
    not-matched insert (source carries key%3=0 mutations and key%5=1 rows
    shifted to new keys)."""
    tbl = HoodieTable.create(
        spark, path, "orders_merge", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    src = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
           .unionByName(orders.filter(F.col("o_orderkey") % 5 == 1)
                        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000)))
    (tbl.merge(src, "target.o_orderkey = source.o_orderkey")
        .when_matched_update(
            set={"o_totalprice": "source.o_totalprice",
                 "o_orderpriority": "'MERGED'"},
            condition="source.o_totalprice > 50000")
        .when_matched_delete(condition="source.o_totalprice <= 50000")
        .when_not_matched_insert()
        .execute())
    return {"tbl": tbl}


def _fx_orders_merge_sql(spark, sf_dir, path):
    """The same MERGE as orders_merge, but issued NATIVELY through
    ``spark.sql()`` with the hoodie session interception enabled
    (HoodieAnalysis.scala:105 parity — see hoodie_spark/sql/session.py)."""
    from hoodie_spark.sql import disable, enable

    tbl = HoodieTable.create(
        spark, path, "orders_merge_sql", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    src = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
           .unionByName(orders.filter(F.col("o_orderkey") % 5 == 1)
                        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000)))
    src.createOrReplaceTempView("merge_src")
    enable(spark, {"orders_merge_sql": tbl})
    try:
        spark.sql("""
            MERGE INTO orders_merge_sql AS t
            USING merge_src s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.o_totalprice > 50000 THEN UPDATE SET
                o_totalprice = s.o_totalprice, o_orderpriority = 'MERGED'
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED THEN INSERT *
        """)
    finally:
        disable(spark)
    return {"tbl": tbl}


def _fx_orders_truncate(spark, sf_dir, path):
    """TRUNCATE TABLE then re-insert a filtered load: the truncate must
    supersede every pre-truncate row while keeping the schema writable."""
    from hoodie_spark.sql import disable, enable

    tbl = HoodieTable.create(
        spark, path, "orders_trunc", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    enable(spark, {"orders_trunc": tbl})
    try:
        spark.sql("TRUNCATE TABLE orders_trunc")
    finally:
        disable(spark)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 4 == 2))
    return {"tbl": tbl}


def _fx_orders_dml(spark, sf_dir, path):
    tbl = HoodieTable.create(
        spark, path, "orders_dml", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    c2 = tbl.update(set={"o_orderpriority": "'0-URGENT'"},
                    where="o_orderstatus = 'F'").instant
    tbl.delete_where("o_totalprice < 20000")
    return {"tbl": tbl, "c2": c2}


def _fx_events_ingest(spark, sf_dir, path):
    """DeltaStreamer-equivalent: parquet source → upsert pipeline →
    checkpoint in commit metadata."""
    from hoodie_spark.streaming import Ingestor, ParquetDFSSource

    tbl = HoodieTable.create(spark, path, "events", ["event_id"], "ts",
                             partition_expr=None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_path = os.path.join(sf_dir, "events.parquet")
    src = ParquetDFSSource(src_path)
    # SqlQueryBasedTransformer normalizes ts to a session-tz timestamp.
    # The testdata's physical ts type has changed across regenerations
    # (int64 nanos vs timestamp[us]); branch on what Spark actually reads.
    src_ts = dict(spark.read.parquet(src_path).dtypes)["ts"]
    ts_expr = ("timestamp_micros(ts DIV 1000)" if src_ts == "bigint"
               else "CAST(ts AS TIMESTAMP)")
    pipe = Ingestor(tbl, src, transformer_sql=f"""
        SELECT event_id, {ts_expr} AS ts, user_id,
               event_type, value, props
        FROM <SRC>""")
    pipe.sync_once()
    return {"tbl": tbl}


def _fx_orders_bootstrap(spark, sf_dir, path):
    """METADATA_ONLY bootstrap: adopt a year-partitioned parquet dir
    without rewriting it, then upsert through the bootstrapped index
    (SparkBootstrapCommitActionExecutor / HoodieBootstrapRelation)."""
    src = os.path.join(path, "source")
    orders = _orders(spark, sf_dir)
    (orders.withColumn("__y", F.expr("cast(year(o_orderdate) as string)"))
     .write.partitionBy("__y").mode("overwrite").parquet(src))
    # drop the partition column from the files' dirs name (partitionBy
    # wrote __y=YYYY dirs); rename to bare-year layout the keygen produces
    for d in list(os.listdir(src)):
        if d.startswith("__y="):
            os.rename(os.path.join(src, d), os.path.join(src, d[4:]))
    tbl = HoodieTable.bootstrap(
        spark, os.path.join(path, "tbl"), src, "orders_boot",
        ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_orderstatus", F.lit("X"))
               .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    return {"tbl": tbl}


def _fx_orders_archive(spark, sf_dir, path):
    """Timeline archival: 12 commits, archive down to 4 active — reads
    must still see the full state and incremental-from-start must still
    work off the archived timeline (HoodieTimelineArchiveLog)."""
    tbl = HoodieTable.create(
        spark, path, "orders_arch", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    for i in range(10):
        tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == i)
                   .withColumn("o_orderpriority", F.lit(f"A{i}")))
    tbl.archive(max_active=4)
    return {"tbl": tbl}


def _fx_events_rollup(spark, sf_dir, path):
    """Continuous windowed aggregate (hypertable rollup): Structured
    Streaming watermark + window agg, update-mode upserted into a
    (window_start, event_type)-keyed table. The oracle is the plain batch
    SQL — the streaming rollup must hash-match it exactly."""
    from hoodie_spark.streaming import (continuous_aggregate,
                                        create_rollup_table)

    ev = load_table(spark, sf_dir, "events")
    src = os.path.join(path, "src")
    ev.coalesce(4).write.mode("overwrite").parquet(src)
    tbl = create_rollup_table(spark, os.path.join(path, "tbl"),
                              "events_rollup", ["event_type"])
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = continuous_aggregate(
        stream, tbl, "ts", ["event_type"], "300 seconds",
        {"cnt": F.count(F.lit(1)),
         "sum_value": F.sum(F.col("value").cast(_DEC)).cast("double")},
        watermark="10 hours", checkpoint=os.path.join(path, "ckpt"),
        trigger_available_now=True)
    q.awaitTermination(300)
    return {"tbl": tbl}


def _fx_warehouse(spark, sf_dir, path):
    """All TPC-H-ish tables as COW tables; snapshot views hd_<name> for the
    SQL-on-snapshot surface (SURVEY.md §2.8)."""
    keys = {
        "region": ["r_regionkey"], "nation": ["n_nationkey"],
        "customer": ["c_custkey"], "supplier": ["s_suppkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    }
    tables = {}
    for name, key in keys.items():
        t = HoodieTable.create(spark, os.path.join(path, name), name, key)
        t.bulk_insert(load_table(spark, sf_dir, name))
        t.register_view(f"hd_{name}")
        tables[name] = t
    return {"tables": tables}


def _fx_orders_cdc(spark, sf_dir, path):
    """CDC batch (AWSDms-style Op column): updates + deletes in one upsert."""
    from hoodie_spark import apply_cdc

    tbl = HoodieTable.create(
        spark, path, "orders_cdc", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    batch = (orders.filter(F.col("o_orderkey") % 6 == 0)
             .withColumn("o_totalprice", F.col("o_totalprice") + 3.0)
             .withColumn("Op", F.lit("U"))
             .unionByName(orders.filter(F.col("o_orderkey") % 13 == 5)
                          .withColumn("Op", F.lit("D"))))
    tbl.upsert(apply_cdc(batch))
    return {"tbl": tbl}


def _fx_orders_evolve(spark, sf_dir, path):
    """Schema evolution: the upsert batch adds a new nullable column."""
    tbl = HoodieTable.create(
        spark, path, "orders_evolve", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    upd = (orders.filter(F.col("o_orderkey") % 8 == 0)
           .withColumn("o_comment", F.lit("upd")))
    tbl.upsert(upd)
    return {"tbl": tbl}


def _fx_orders_partial(spark, sf_dir, path):
    """Partial-update payload: null incoming fields keep stored values."""
    from hoodie_spark.config import MergePolicy

    tbl = HoodieTable.create(
        spark, path, "orders_partial", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(merge_policy=MergePolicy.PARTIAL_UPDATE))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    upd = (orders.filter(F.col("o_orderkey") % 4 == 2)
           .withColumn("o_totalprice", F.col("o_totalprice") + 7.0)
           .withColumn("o_orderpriority", F.lit(None).cast("string")))
    tbl.upsert(upd)
    return {"tbl": tbl}


def _fx_orders_global(spark, sf_dir, path):
    """Global index: an update whose partition value changed still lands in
    the record's existing partition (GLOBAL_SIMPLE semantics)."""
    from hoodie_spark.config import IndexType

    tbl = HoodieTable.create(
        spark, path, "orders_global", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(index_type=IndexType.GLOBAL_SIMPLE))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    upd = (orders.filter(F.col("o_orderkey") % 9 == 7)
           .withColumn("o_orderdate", F.expr("o_orderdate + INTERVAL 365 DAY"))
           .withColumn("o_orderstatus", F.lit("G")))
    tbl.upsert(upd)
    return {"tbl": tbl}


def _fx_orders_skip(spark, sf_dir, path):
    """Column-stats data skipping: cluster by o_totalprice so per-file
    ranges are tight, then read with skip_filters."""
    tbl = HoodieTable.create(
        spark, path, "orders_skip", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024,
                                 parquet_small_file_limit=200 * 1024,
                                 stats_columns=["o_totalprice"]))
    tbl.bulk_insert(_orders(spark, sf_dir))
    tbl.cluster(sort_cols=["o_totalprice"], target_file_size=256 * 1024,
                small_file_limit=100 * 1024 * 1024)
    return {"tbl": tbl}


def _fx_orders_ri(spark, sf_dir, path):
    """Same mutation chain as orders_cow but tagged via the record-level
    index (no data-file scan during upsert tagging)."""
    tbl = HoodieTable.create(
        spark, path, "orders_ri", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(record_index=True))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_orderstatus", F.lit("X"))
               .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey"))
    return {"tbl": tbl}


def _fx_orders_bloom(spark, sf_dir, path):
    """Same mutation chain as orders_cow, but tagged through the BLOOM
    index: small files + a floor-level sketch gate force every base file to
    carry a key sketch, so upsert/delete tagging exercises range pruning AND
    sketch-membership pruning (SparkHoodieBloomIndex.java:256-289)."""
    tbl = HoodieTable.create(
        spark, path, "orders_bloom", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(index_type=IndexType.BLOOM,
                                 parquet_max_file_size=512 * 1024,
                                 bloom_sketch_min_records=1))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_orderstatus", F.lit("X"))
               .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey", "o_orderdate"))
    return {"tbl": tbl}


def _fx_orders_bucket(spark, sf_dir, path):
    """Same mutation chain as orders_cow through the hash-BUCKET index:
    fixed key→file-group routing, zero-I/O tagging (extension beyond this
    reference snapshot; public HoodieSimpleBucketIndex design)."""
    tbl = HoodieTable.create(
        spark, path, "orders_bucket", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(index_type=IndexType.BUCKET,
                                 bucket_index_num_buckets=4))
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_orderstatus", F.lit("X"))
               .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey", "o_orderdate"))
    return {"tbl": tbl}


def _fx_orders_logcompact(spark, sf_dir, path):
    """MOR: three delta commits over disjoint key classes (k%3), then LOG
    compaction (merge deltas, base untouched). Snapshot must equal the
    plain SQL mutation model."""
    tbl = HoodieTable.create(
        spark, path, "orders_logcompact", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=TableType.MERGE_ON_READ)
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    for i in range(3):
        tbl.upsert(orders.filter(F.col("o_orderkey") % 3 == i)
                   .withColumn("o_orderstatus", F.lit(f"S{i}"))
                   .withColumn("o_totalprice", F.col("o_totalprice") + i))
    assert tbl.logcompact(min_log_files=3) is not None
    return {"tbl": tbl}


def _fx_orders_exprskip(spark, sf_dir, path):
    """Expression stats (functional-index equivalent): per-file min/max of
    year(o_orderdate) harvested at write; skip_filters on the alias prune
    files without changing results."""
    from pyspark.sql.window import Window

    tbl = HoodieTable.create(
        spark, path, "orders_exprskip", ["rk"], "o_orderdate",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024,
                                 stats_exprs={"yr": "year(o_orderdate)"}))
    # record key = rank by orderdate, so the global key sort gives tight
    # per-file year ranges (what clustering by date yields in production)
    keyed = _orders(spark, sf_dir).withColumn(
        "rk", F.lpad(F.row_number().over(Window.orderBy(
            "o_orderdate", "o_orderkey")).cast("string"), 8, "0"))
    tbl.bulk_insert(keyed)
    return {"tbl": tbl}


def _fx_orders_analyze(spark, sf_dir, path):
    """ANALYZE backfill (services/stats.py): table written with NO stats
    config; column/expression stats are harvested afterwards into the
    .hoodie/col_stats sidecar and overlay the manifest, so skip_filters
    prune identically to write-time stats."""
    from pyspark.sql.window import Window

    tbl = HoodieTable.create(
        spark, path, "orders_analyze", ["rk"], "o_orderdate",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024))
    keyed = _orders(spark, sf_dir).withColumn(
        "rk", F.lpad(F.row_number().over(Window.orderBy(
            "o_orderdate", "o_orderkey")).cast("string"), 8, "0"))
    tbl.bulk_insert(keyed)
    assert tbl.analyze(exprs={"yr": "year(o_orderdate)"}) > 0
    return {"tbl": tbl}


def _fx_orders_zorder(spark, sf_dir, path):
    """Many small files, then z-order cluster on (custkey, totalprice) —
    contents must be byte-identical; the layout only moves rows."""
    tbl = HoodieTable.create(
        spark, path, "orders_zorder", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(parquet_max_file_size=256 * 1024,
                                 parquet_small_file_limit=200 * 1024,
                                 stats_columns=["o_custkey", "o_totalprice"]))
    tbl.bulk_insert(_orders(spark, sf_dir))
    tbl.write_config.parquet_max_file_size = 120 * 1024 * 1024
    tbl.cluster(sort_cols=["o_custkey", "o_totalprice"], layout="zorder")
    return {"tbl": tbl}


def _fx_orders_si(spark, sf_dir, path):
    """Secondary index on a NON-key column: bulk_insert → CREATE INDEX →
    upsert that MOVES the indexed value (key%10=0: custkey+1000000, the
    stale-entry worst case) → delete key%7=3. Lookups must see exactly the
    post-mutation state (stale entries only cost I/O, never rows)."""
    tbl = HoodieTable.create(
        spark, path, "orders_si", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = _orders(spark, sf_dir)
    tbl.bulk_insert(orders)
    tbl.create_secondary_index("o_custkey")
    upd = (orders.filter(F.col("o_orderkey") % 10 == 0)
           .withColumn("o_custkey", F.col("o_custkey") + 1000000)
           .withColumn("o_orderstatus", F.lit("X")))
    tbl.upsert(upd)
    tbl.delete(orders.filter(F.col("o_orderkey") % 7 == 3)
               .select("o_orderkey"))
    return {"tbl": tbl}


def _fx_ivf_incr(spark, sf_dir, path):
    """Incrementally-maintained persisted IVF index: build the inverted
    lists from the EVEN vec_ids, append the odd ones against the same
    frozen centroid set (first-16 vectors, matching the ann_ivf oracle's
    centroid derivation), then delete + re-append a slice so the
    maintenance path (append → delete → append → compact) is what the
    oracle actually exercises. The final index content must equal a full
    rebuild over the whole corpus — which is what the DuckDB oracle
    computes from the raw table."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    idx = os.path.join(path, "ivf")
    HF.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), cents,
                       "vec_id", "embedding", idx)
    HF.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), cents,
                        "vec_id", "embedding", idx)
    sl = emb.filter(F.col("vec_id") % 5 == 2)
    HF.delete_from_ivf_index(spark, idx, sl.select("vec_id"), "vec_id")
    HF.append_ivf_index(sl, cents, "vec_id", "embedding", idx)
    HF.compact_ivf_index(spark, idx)
    return {"index": idx, "centroids": cents}


def _fx_ivf_maint(spark, sf_dir, path):
    """ANN index maintained as a table service: three embedding
    micro-batches ingested through Ingestor(index_maintainers=[...]),
    then a vector UPDATE batch (delete-then-append moves it between
    lists). The maintained index must be content-identical to a full
    rebuild over the final table — the ann_ivf oracle over the raw
    embeddings table, because the update batch re-writes original
    vectors unchanged."""
    from hoodie_spark.streaming import Ingestor, IvfIndexMaintainer
    from hoodie_spark.streaming.ingest import Source

    class _Batches(Source):
        def __init__(self, dfs):
            self.dfs = dfs

        def fetch(self, s, ck):
            i = int(ck) if ck else 0
            if i >= len(self.dfs):
                return None, ck
            return self.dfs[i], str(i + 1)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "emb_maint", ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = os.path.join(path, "ivf")
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding",
                           compact_every=2)
    batches = [emb.filter(F.col("vec_id") % 3 == k) for k in range(3)]
    # batch 4 re-upserts a slice UNCHANGED: exercises the index
    # delete-then-append path while keeping the final content equal to
    # the raw table (what the shared oracle computes)
    batches.append(emb.filter(F.col("vec_id") % 7 == 1))
    Ingestor(tbl, _Batches(batches),
             index_maintainers=[m]).run_continuous(4)
    return {"index": idx, "centroids": cents}


def _fx_sketch_maint(spark, sf_dir, path):
    """Corpus-overlap sketches as maintained state: ingest the documents
    in three batches through CorpusSketchMaintainer.catch_up(); min-merge
    is a monoid, so the maintained state's overlap must be BIT-IDENTICAL
    to the one-pass corpus_overlap_minhash over the raw table (the shared
    oracle)."""
    from hoodie_spark.streaming import CorpusSketchMaintainer

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source")
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "docs_sketch", ["doc_id"], None)
    m = CorpusSketchMaintainer(tbl, os.path.join(path, "sk"),
                               "source", "text", num_hashes=64)
    for k in range(3):
        tbl.upsert(docs.filter(F.col("doc_id") % 3 == k))
        m.catch_up()
    return {"m": m}


def _fx_split_maint(spark, sf_dir, path):
    """Leakage-safe split as maintained state: three id-ordered batches
    (documents, then two EXACT-copy generations) through
    SplitMaintainer.catch_up(). Exact copies add no new connectivity (a
    byte-identical copy has its original's signature, hence exactly its
    original's edges), so the streaming assignment must be BIT-IDENTICAL
    to one batch pass of the same sig-agreement-gated components over
    the union (the oracle)."""
    from hoodie_spark.streaming import SplitMaintainer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "docs_split", ["doc_id"], None)
    m = SplitMaintainer(tbl, os.path.join(path, "split"), "doc_id",
                        "text", {"train": 0.8, "val": 0.1, "test": 0.1})
    for k in range(3):
        tbl.insert(docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10000)))
        m.catch_up()
    return {"m": m}


def _fx_reservoir(spark, sf_dir, path):
    """Fixed-size deterministic sample as maintained state: three insert
    batches through ReservoirMaintainer.catch_up(). Bottom-k under a
    fixed hash priority is a monoid, so the maintained sample must be
    BIT-IDENTICAL to one batch priority_sample over the union (the
    oracle) — for any arrival order and any batch boundaries."""
    from hoodie_spark.streaming import ReservoirMaintainer

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "docs_resv", ["doc_id"], None)
    m = ReservoirMaintainer(tbl, os.path.join(path, "resv"), "doc_id",
                            k=500)
    for k in range(3):
        tbl.insert(docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10000)))
        m.catch_up()
    return {"m": m}


def _fx_keep_best(spark, sf_dir, path):
    """Keep-best dedup as maintained state: three batches (corpus, then
    BETTER-scoring exact copies, then worse ones) through
    KeepBestDeduper.process_batch. The table's final content must be
    BIT-IDENTICAL to one batch dedup_keep_best pass over the union —
    better copies replace stored winners, worse ones drop."""
    from hoodie_spark.streaming import KeepBestDeduper

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text",
                    F.length("text").cast("long").alias("score")))
    tbl = HoodieTable.create(spark, os.path.join(path, "t"), "docs_kb",
                             ["doc_id"], None, partition_expr="'p'")
    kb = KeepBestDeduper(tbl, os.path.join(path, "kb"), "doc_id",
                         "text", "score")
    for shift, ds in ((0, 0), (10000, 10), (20000, -5)):
        kb.process_batch(docs.select(
            (F.col("doc_id") + shift).alias("doc_id"), "text",
            (F.col("score") + ds).alias("score")))
    return {"tbl": tbl, "kb": kb}


def _fx_drift_maint(spark, sf_dir, path):
    """Token-distribution drift as maintained state: three insert batches
    plus one UNCHANGED re-upsert batch ingested with track_changes=True —
    the CDC un-merge must keep the maintained histogram exactly equal to
    a fresh census of the final table (which equals the raw documents
    table), so shift() against the even-doc reference must hash-match the
    batch distribution_shift oracle."""
    from hoodie_spark.streaming import DriftMonitor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "docs_drift", ["doc_id"], None)
    m = DriftMonitor(tbl, os.path.join(path, "drift"), "text",
                     buckets=64, track_changes=True)
    m.set_reference(docs.filter(F.col("doc_id") % 2 == 0))
    for k in range(3):
        tbl.upsert(docs.filter(F.col("doc_id") % 3 == k))
        m.catch_up()
    # re-upsert a slice unchanged: exercises the CDC subtract-then-add
    # path without changing the final content
    tbl.upsert(docs.filter(F.col("doc_id") % 7 == 1))
    m.catch_up()
    return {"m": m}


def _fx_docs_incdedup(spark, sf_dir, path):
    """Incremental dedup-against-state: three micro-batches (originals,
    exact copies +10000, near copies +20000 with ' zz' appended) ingested
    through IncrementalDeduper. Batch order equals doc_id order, so the
    final table must equal ONE batch-global seen_dedup pass over the union
    — which is exactly what the DuckDB oracle computes."""
    from hoodie_spark.streaming import IncrementalDeduper

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _assert_shift_safe(docs)
    exact = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    near = (docs.withColumn("doc_id", F.col("doc_id") + 20000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    tbl = HoodieTable.create(spark, path, "docs_incdedup", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    for batch in (docs, exact, near):
        # filter_batch admits only unseen keys, so the write can be an
        # index-lookup-free insert (reference: filterExists + insert)
        tbl.insert(dd.filter_batch(batch))
        dd.advance(batch)
    return {"tbl": tbl}


def _assert_shift_safe(docs, shift=10000):
    """Fixtures that synthesize duplicate batches by shifting doc_id in
    +``shift`` steps assume real ids stay below the first step — a
    collision would make the maintainer's keyed distinct() diverge from
    the oracle's duplicate-preserving UNION ALL. Assert it instead of
    assuming it, so a larger scale factor fails loudly here rather than
    as a silent hash mismatch."""
    import pyspark.sql.functions as _F

    mx = docs.agg(_F.max("doc_id")).first()[0]
    assert mx is None or mx < shift, (
        f"fixture doc_id shift unsafe: max(doc_id)={mx} >= {shift}")


def _fx_wres(spark, sf_dir, path):
    """Weighted reservoir as maintained state: three insert batches
    through ReservoirMaintainer(weight_col=...).catch_up(). Bottom-k by
    the per-row exponential-race score is the same monoid as the uniform
    hash, so the maintained weighted sample must be BIT-IDENTICAL to one
    batch weighted_priority_sample over the union (the oracle)."""
    from hoodie_spark.streaming import ReservoirMaintainer

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars")
    _assert_shift_safe(docs)
    tbl = HoodieTable.create(spark, os.path.join(path, "t"),
                             "docs_wres", ["doc_id"], None)
    m = ReservoirMaintainer(tbl, os.path.join(path, "res"), "doc_id",
                            k=500, weight_col="n_chars")
    for k in range(3):
        tbl.insert(docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10000)))
        m.catch_up()
    return {"m": m}


def _fx_line_census(spark, sf_dir, path):
    """Cross-document line census as maintained state: the lined corpus
    (text + corpus-wide boilerplate line + per-doc-or-shared tail)
    ingested in three slices through LineCensusMaintainer.catch_up. The
    census after three folds must be BIT-IDENTICAL to one batch census
    over the union — per-line counts are a SUM monoid."""
    from hoodie_spark.streaming import LineCensusMaintainer

    lined = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # coalesce: see line_dedup — keeps Spark concat_ws (NULL-skipping)
        # and the oracle's NULL-propagating || in agreement under NULL text
        F.concat_ws(
            "\n", F.coalesce(F.col("text"), F.lit("")),
            F.lit("subscribe to our newsletter"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("all rights reserved"))
            .otherwise(F.concat(F.lit("tail "),
                                F.col("doc_id").cast("string"))))
        .alias("text"))
    tbl = HoodieTable.create(spark, os.path.join(path, "t"), "docs_lc",
                             ["doc_id"], None)
    m = LineCensusMaintainer(tbl, os.path.join(path, "lc"),
                             "doc_id", "text")
    for k in range(3):
        tbl.insert(lined.filter(F.col("doc_id") % 3 == k))
        m.catch_up()
    return {"tbl": tbl, "m": m}


_BUILDERS = {
    "orders_cow": _fx_orders_cow, "orders_ow": _fx_orders_ow,
    "orders_owt": _fx_orders_owt, "orders_rb": _fx_orders_rb,
    "orders_mor": _fx_orders_mor, "orders_mor_c": _fx_orders_mor_c,
    "orders_cluster": _fx_orders_cluster, "orders_merge": _fx_orders_merge,
    "orders_dml": _fx_orders_dml, "events_ingest": _fx_events_ingest,
    "orders_merge_sql": _fx_orders_merge_sql,
    "orders_trunc": _fx_orders_truncate,
    "events_rollup": _fx_events_rollup,
    "orders_boot": _fx_orders_bootstrap,
    "orders_arch": _fx_orders_archive,
    "warehouse": _fx_warehouse, "orders_cdc": _fx_orders_cdc,
    "orders_evolve": _fx_orders_evolve, "orders_partial": _fx_orders_partial,
    "orders_global": _fx_orders_global, "orders_skip": _fx_orders_skip,
    "orders_ri": _fx_orders_ri, "orders_bloom": _fx_orders_bloom,
    "orders_bucket": _fx_orders_bucket,
    "orders_si": _fx_orders_si,
    "orders_zorder": _fx_orders_zorder,
    "orders_exprskip": _fx_orders_exprskip,
    "orders_analyze": _fx_orders_analyze,
    "orders_logcompact": _fx_orders_logcompact,
    "docs_incdedup": _fx_docs_incdedup,
    "ivf_incr": _fx_ivf_incr,
    "ivf_maint": _fx_ivf_maint,
    "sketch_maint": _fx_sketch_maint,
    "split_maint": _fx_split_maint,
    "drift_maint": _fx_drift_maint,
    "reservoir": _fx_reservoir,
    "keep_best": _fx_keep_best,
    "line_census": _fx_line_census,
    "wres": _fx_wres,
}

_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]

# ------------------------------------------------------- shared SQL pieces
# CASE-transform of the cow upsert scenario, reused by several oracles
_COW_FINAL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 7 <> 3
"""

_MOR_FINAL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 5 = 0 THEN 'Y' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 50.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 11 <> 4
"""

_DEC = "DECIMAL(18,6)"


def _sum_d(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {_DEC})) AS DOUBLE) AS {alias}"


# TPC-H-style SQL, written to run verbatim on BOTH engines; table names are
# format placeholders ({l}=lineitem, ...).
TPCH_SQL = {
    "tpch_q1": f"""
SELECT l_returnflag, l_linestatus,
       {_sum_d('l_quantity', 'sum_qty')},
       {_sum_d('l_extendedprice', 'sum_base_price')},
       {_sum_d('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {_sum_d('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM {{l}}
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3": f"""
SELECT o_orderkey,
       {_sum_d('l_extendedprice * (1 - l_discount)', 'revenue')},
       o_orderdate, o_orderpriority
FROM {{c}}, {{o}}, {{l}}
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
    "tpch_q5": f"""
SELECT n_name, {_sum_d('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM {{c}}, {{o}}, {{l}}, {{s}}, {{n}}, {{r}}
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    "tpch_q6": f"""
SELECT {_sum_d('l_extendedprice * l_discount', 'revenue')}
FROM {{l}}
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 24
""",
    "tpch_q10": f"""
SELECT c_custkey, c_name,
       {_sum_d('l_extendedprice * (1 - l_discount)', 'revenue')}, c_acctbal
FROM {{c}}, {{o}}, {{l}}
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
    "tpch_q12": """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {o}, {l}
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
""",
    "tpch_q14": f"""
SELECT 100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS {_DEC})
                     ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE)
       AS promo_revenue
FROM {{l}}, {{p}}
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
    "tpch_q18": f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {_sum_d('l_quantity', 'sum_qty')}
FROM {{c}}, {{o}}, {{l}}
WHERE o_orderkey IN (SELECT l_orderkey FROM {{l}}
                     GROUP BY l_orderkey
                     HAVING SUM(CAST(l_quantity AS {_DEC})) > 200)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
""",
    "tpch_q19": f"""
SELECT {_sum_d('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM {{l}}, {{p}}
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30))
""",
    "tpch_q4": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM {o}
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM {l}
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    "tpch_q7": f"""
SELECT supp_nation, cust_nation, l_year,
       {_sum_d('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM {{s}}, {{l}}, {{o}}, {{c}}, {{n}} n1, {{n}} n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    "tpch_q8": f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3'
                     THEN CAST(volume AS {_DEC}) ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
       / CAST(SUM(CAST(volume AS {_DEC})) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM {{p}}, {{s}}, {{l}}, {{o}}, {{c}}, {{n}} n1, {{n}} n2, {{r}}
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AFRICA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
""",
    "tpch_q9": f"""
SELECT nation, o_year, {_sum_d('volume', 'revenue')}
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM {{p}}, {{s}}, {{l}}, {{o}}, {{n}}
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
    AND p_type = 'STANDARD'
) profit
GROUP BY nation, o_year
""",
    "tpch_q13": """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM {c} LEFT OUTER JOIN {o}
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
    "tpch_q15": f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {_sum_d('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM {{l}}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM {{s}}, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    "tpch_q17": f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0 AS avg_yearly
FROM {{l}} l1, {{p}}
WHERE p_partkey = l1.l_partkey AND p_brand = 'Brand#11' AND p_size < 20
  AND l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                       FROM {{l}} l2 WHERE l2.l_partkey = l1.l_partkey)
""",
    "tpch_q22": f"""
SELECT c_nationkey, COUNT(*) AS numcust, {_sum_d('c_acctbal', 'totacctbal')}
FROM {{c}}
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) / COUNT(*)
                   FROM {{c}} WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM {{o}}
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
GROUP BY c_nationkey
""",
}

# q2/q11/q16/q20 need PARTSUPP, which the testdata lacks; both engines run
# the same query text, so each derives an identical partsupp from lineitem
# (availqty = total lined quantity, supplycost = best observed unit price).
# Shared CTE text, prepended to those queries below.
_PS_CTE = f"""
WITH partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS ps_availqty,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM {{l}} GROUP BY l_partkey, l_suppkey
)
"""

TPCH_SQL["tpch_q2"] = _PS_CTE + """
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
FROM {p}, {s}, partsupp, {n}, {r}
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15 AND p_type = 'STANDARD'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM partsupp ps2, {s} s2, {n} n2, {r} r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

TPCH_SQL["tpch_q11"] = _PS_CTE + f"""
SELECT ps_partkey, part_value FROM (
  SELECT ps_partkey,
         {_sum_d('ps_supplycost * ps_availqty', 'part_value')}
  FROM partsupp, {{s}}, {{n}}
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY ps_partkey
) inner_q
WHERE part_value > (
  SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS {_DEC})) AS DOUBLE) * 0.002
  FROM partsupp, {{s}}, {{n}}
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3')
"""

TPCH_SQL["tpch_q16"] = _PS_CTE + """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp, {p}
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#11' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM {s} WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""

TPCH_SQL["tpch_q20"] = _PS_CTE + f"""
SELECT s_name, s_acctbal
FROM {{s}}, {{n}}
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (SELECT p_partkey FROM {{p}} WHERE p_name LIKE 'red%')
      AND ps_availqty > (
        SELECT 0.5 * CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)
        FROM {{l}}
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
"""

# q21 without l_commitdate/l_receiptdate: "the line this supplier failed on"
# is marked by l_returnflag = 'R'; shape (multi-supplier order, this supplier
# is the only one at fault) is unchanged.
TPCH_SQL["tpch_q21"] = """
SELECT s_name, COUNT(*) AS numwait
FROM {s}, {l} l1, {o}, {n}
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM {l} l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM {l} l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
GROUP BY s_name
"""

_HD = {k: f"hd_{v}" for k, v in
       {"l": "lineitem", "o": "orders", "c": "customer", "s": "supplier",
        "n": "nation", "r": "region", "p": "part"}.items()}
_RAW = {"l": "lineitem", "o": "orders", "c": "customer", "s": "supplier",
        "n": "nation", "r": "region", "p": "part"}


# ------------------------------------------------------------- queries()
def _q_tpch(name):
    def run(spark, sf_dir):
        _fixture(spark, sf_dir, "warehouse")
        return spark.sql(TPCH_SQL[name].format(**_HD))
    return run


def _dup_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pert = (docs.withColumn("doc_id", F.col("doc_id") + 10000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    return docs.unionByName(pert)


def _dup_emb(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))


def _contain_docs(spark, sf_dir):
    """Small corpus with PLANTED containment: doc 20000+i is the first
    half of doc i's words — high containment, low Jaccard (the case the
    symmetric dedups miss)."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").filter(F.col("doc_id") < 60))
    w = F.split(F.col("text"), " ")
    half = docs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.array_join(F.slice(w, 1, (F.size(w) / 2).cast("int")),
                     " ").alias("text"))
    return docs.unionByName(half)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- write path + query types (COW)
    q["cow_snapshot"] = lambda s, d: _data(
        _fixture(s, d, "orders_cow")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["cow_time_travel"] = lambda s, d: _data(
        _fixture(s, d, "orders_cow")["tbl"]
        .snapshot(as_of=_fixture(s, d, "orders_cow")["c1"])).select(*_ORDER_COLS)
    q["cow_incremental"] = lambda s, d: _data(
        _fixture(s, d, "orders_cow")["tbl"]
        .incremental(begin=_fixture(s, d, "orders_cow")["c1"],
                     end=_fixture(s, d, "orders_cow")["c2"])).select(*_ORDER_COLS)
    q["cow_read_keys"] = lambda s, d: _data(
        _fixture(s, d, "orders_cow")["tbl"].read_keys(
            _orders(s, d).filter(F.col("o_orderkey") % 13 == 1)
            .select("o_orderkey"))).select(*_ORDER_COLS)
    q["cow_filter_exists"] = lambda s, d: (
        _fixture(s, d, "orders_cow")["tbl"]
        .filter_exists(_orders(s, d)).select("o_orderkey"))
    # ---- replace-commit family
    q["insert_overwrite"] = lambda s, d: _data(
        _fixture(s, d, "orders_ow")["tbl"]
        .snapshot(as_of=_fixture(s, d, "orders_ow")["c2"])).select(*_ORDER_COLS)
    q["delete_partition"] = lambda s, d: _data(
        _fixture(s, d, "orders_ow")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["insert_overwrite_table"] = lambda s, d: _data(
        _fixture(s, d, "orders_owt")["tbl"].snapshot()).select(*_ORDER_COLS)

    # ---- services
    q["rollback_restore"] = lambda s, d: _data(
        _fixture(s, d, "orders_rb")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["clustering"] = lambda s, d: _data(
        _fixture(s, d, "orders_cluster")["tbl"].snapshot()).select(*_ORDER_COLS)

    # ---- MOR
    q["mor_snapshot"] = lambda s, d: _data(
        _fixture(s, d, "orders_mor")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["mor_read_optimized"] = lambda s, d: _data(
        _fixture(s, d, "orders_mor")["tbl"].read_optimized()).select(*_ORDER_COLS)
    q["mor_incremental"] = lambda s, d: _data(
        _fixture(s, d, "orders_mor")["tbl"]
        .incremental(begin=_fixture(s, d, "orders_mor")["c1"],
                     end=_fixture(s, d, "orders_mor")["c2"])).select(*_ORDER_COLS)
    q["mor_compaction"] = lambda s, d: _data(
        _fixture(s, d, "orders_mor_c")["tbl"].read_optimized()).select(*_ORDER_COLS)

    # ---- SQL DML
    q["merge_into"] = lambda s, d: _data(
        _fixture(s, d, "orders_merge")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["merge_into_sql"] = lambda s, d: _data(
        _fixture(s, d, "orders_merge_sql")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["truncate_table"] = lambda s, d: _data(
        _fixture(s, d, "orders_trunc")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["update_where"] = lambda s, d: _data(
        _fixture(s, d, "orders_dml")["tbl"]
        .snapshot(as_of=_fixture(s, d, "orders_dml")["c2"])).select(*_ORDER_COLS)
    q["delete_where"] = lambda s, d: _data(
        _fixture(s, d, "orders_dml")["tbl"].snapshot()).select(*_ORDER_COLS)

    q["record_index_upsert"] = lambda s, d: _data(
        _fixture(s, d, "orders_ri")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["bloom_index_upsert"] = lambda s, d: _data(
        _fixture(s, d, "orders_bloom")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["bucket_index_upsert"] = lambda s, d: _data(
        _fixture(s, d, "orders_bucket")["tbl"].snapshot()).select(*_ORDER_COLS)

    def _q_secondary_index(s, d):
        tbl = _fixture(s, d, "orders_si")["tbl"]
        vals = [r.o_custkey for r in _orders(s, d)
                .select("o_custkey").distinct()
                .filter(F.col("o_custkey") % 97 == 3).collect()]
        vals = sorted(vals) + [v + 1000000 for v in sorted(vals)]
        return _data(tbl.read_by_column("o_custkey", vals)).select(*_ORDER_COLS)
    q["secondary_index_lookup"] = _q_secondary_index
    q["bootstrap_read"] = lambda s, d: _data(
        _fixture(s, d, "orders_boot")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["archived_timeline_read"] = lambda s, d: _data(
        _fixture(s, d, "orders_arch")["tbl"].snapshot()).select(*_ORDER_COLS)

    # ---- data skipping (file pruning must not change results)
    q["data_skipping"] = lambda s, d: _data(
        _fixture(s, d, "orders_skip")["tbl"]
        .snapshot(skip_filters=[("o_totalprice", ">", 300000.0)])
        .filter("o_totalprice > 300000.0")).select(*_ORDER_COLS)

    # ---- payload policies / index modes / schema evolution / CDC
    q["cdc_upsert"] = lambda s, d: _data(
        _fixture(s, d, "orders_cdc")["tbl"].snapshot()).select(*_ORDER_COLS)

    def _q_cdc_incremental(s, d):
        fx = _fixture(s, d, "orders_cow")
        cdc = fx["tbl"].incremental_cdc(begin=fx["c1"])
        return cdc.select(
            "op",
            F.coalesce(F.col("after.o_orderkey"),
                       F.col("before.o_orderkey")).alias("o_orderkey"),
            F.col("before.o_orderstatus").alias("before_status"),
            F.col("before.o_totalprice").alias("before_price"),
            F.col("after.o_orderstatus").alias("after_status"),
            F.col("after.o_totalprice").alias("after_price"))
    q["cdc_incremental"] = _q_cdc_incremental
    q["schema_evolution"] = lambda s, d: _data(
        _fixture(s, d, "orders_evolve")["tbl"].snapshot()).select(
            *_ORDER_COLS, "o_comment")
    q["partial_update_payload"] = lambda s, d: _data(
        _fixture(s, d, "orders_partial")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["global_index_upsert"] = lambda s, d: _data(
        _fixture(s, d, "orders_global")["tbl"].snapshot()).select(*_ORDER_COLS)

    # ---- streaming ingest
    q["ingest_pipeline"] = lambda s, d: _data(
        _fixture(s, d, "events_ingest")["tbl"].snapshot()).select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id",
            "event_type", "value", "props")
    q["sessionize"] = lambda s, d: HF.sessionize(
        _data(_fixture(s, d, "events_ingest")["tbl"].snapshot()),
        "user_id", "ts", gap_seconds=1800).select(
            "event_id", "session_id",
            F.unix_micros("session_start").alias("session_start_us"))
    q["events_window"] = lambda s, d: (
        _data(_fixture(s, d, "events_ingest")["tbl"].snapshot())
        .groupBy(F.window("ts", "300 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"))
        .select(F.unix_micros("w.start").alias("w_start"), "event_type",
                "cnt", "sum_value"))
    q["continuous_rollup"] = lambda s, d: (
        _fixture(s, d, "events_rollup")["tbl"].snapshot()
        .select(F.unix_micros("window_start").alias("w_start"), "event_type",
                "cnt", "sum_value"))

    def _asof(s, d):
        ev = load_table(s, d, "events")
        left = ev.filter("event_type = 'purchase'").select(
            "event_id", "user_id", "ts")
        right = ev.filter("event_type = 'click'").select(
            "user_id", "ts", "value", "event_id")
        out = HF.asof_join(left, right, ["user_id"], "ts",
                           right_cols=["value"], right_tiebreak="event_id")
        return out.select("event_id",
                          F.unix_micros("ts_asof").alias("click_ts_us"),
                          F.col("value_asof").alias("click_value"))
    q["asof_join"] = _asof

    def _range(s, d):
        ev = load_table(s, d, "events")
        left = ev.filter("event_type = 'purchase'").select(
            "event_id", "user_id", "ts")
        right = (ev.filter("event_type = 'click'")
                 .select("user_id", F.col("ts").alias("s"),
                         (F.col("ts") + F.expr("interval 6 hours"))
                         .alias("e"),
                         F.col("event_id").alias("click_id")))
        out = HF.range_join(left, right, ["user_id"], "ts", "s", "e",
                            bucket_width=21600.0)
        return out.select("event_id", "click_id")
    q["range_join"] = _range

    # ---- text analysis
    q["text_stats"] = lambda s, d: load_table(s, d, "documents").select(
        "doc_id",
        HF.token_count("text").alias("n_tokens"),
        HF.regex_token_count("text").alias("n_regex_tokens"),
        HF.lang_id("text").alias("lang_pred"),
        F.round(HF.quality_score("text"), 6).alias("quality"))
    q["text_fingerprint"] = lambda s, d: load_table(s, d, "documents").select(
        "doc_id", HF.fingerprint("text").alias("fp"),
        HF.kmin_fingerprint("text").alias("kfp"))
    # within-document stutter repair: consecutive duplicate tokens collapse
    # to one occurrence — map-only HOF, zero shuffle
    q["collapse_repeats"] = lambda s, d: load_table(s, d, "documents").select(
        "doc_id", HF.collapse_repeats("text").alias("o")).select(
        "doc_id", F.col("o.text_clean").alias("text_clean"),
        F.col("o.n_removed").alias("n_removed"))

    # ---- dedup
    q["dedup_exact"] = lambda s, d: HF.exact_dedup(
        _dup_docs(s, d).withColumn(  # make the copies byte-identical
            "text", F.regexp_replace("text", " zz$", "")),
        ["text"], "doc_id").select("doc_id")
    q["dedup_minhash_lsh"] = lambda s, d: HF.minhash_candidate_pairs(
        _dup_docs(s, d), "doc_id", "text")
    q["dedup_groups"] = lambda s, d: HF.duplicate_groups(
        HF.minhash_candidate_pairs(_dup_docs(s, d), "doc_id", "text"))
    q["dedup_jaccard"] = lambda s, d: HF.jaccard_dedup_pairs(
        _dup_docs(s, d), "doc_id", "text", threshold=0.8).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    # leakage-safe train/val/test split (round 13): near-dup components
    # split together by the component-min hash — no eval leakage
    # (functions/pipeline.leakage_safe_split)
    q["leakage_split"] = lambda s, d: HF.leakage_safe_split(
        _dup_docs(s, d), "doc_id", "text",
        {"train": 0.8, "val": 0.1, "test": 0.1}).select("doc_id", "split")
    # asymmetric containment (doc-inside-doc; prefix-filtered, EXACT)
    q["dedup_containment"] = lambda s, d: HF.containment_dedup_pairs(
        _contain_docs(s, d), "doc_id", "text", threshold=0.9).select(
            "id_a", "id_b", "containment")
    q["dedup_simhash"] = lambda s, d: HF.simhash_dup_pairs(
        load_table(s, d, "documents"), "doc_id", "text",
        bits=32, max_distance=3).select("id_a", "id_b", "distance")
    q["dedup_embedding"] = lambda s, d: HF.embedding_near_dup_pairs(
        _dup_emb(s, d), "vec_id", "embedding", threshold=0.999,
        dim=64).select("id_a", "id_b")
    # SemDeDup: cluster-scoped cosine dedup returning the surviving rows
    q["semantic_dedup"] = lambda s, d: HF.semantic_dedup(
        _dup_emb(s, d), "vec_id", "embedding", n_clusters=16,
        threshold=0.99).select("vec_id")
    # batch-incremental dedup against persisted table state == one global
    # seen_dedup pass over the union (hoodie_spark/streaming/incremental_dedup.py)
    q["incremental_dedup"] = lambda s, d: _data(
        _fixture(s, d, "docs_incdedup")["tbl"].snapshot()).select("doc_id")

    # ---- similarity search
    q["ann_brute_force"] = lambda s, d: HF.brute_force_topk(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=10).select("query_id", "neighbor_id", "rank")
    q["ann_ivf"] = lambda s, d: HF.ivf_topk(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=10, n_centroids=16, n_probe=4).select(
            "query_id", "neighbor_id", "rank")
    q["ann_lsh"] = lambda s, d: HF.lsh_bucket_topk(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=10, planes=6, dim=64).select(
            "query_id", "neighbor_id", "rank")
    # int8 serving pair: symmetric per-vector quantization (exact floor
    # arithmetic both engines reproduce) + inner-product top-k over the
    # quantized codes (integer dot, two double scale multiplies)
    q["embedding_quantize"] = lambda s, d: (
        HF.quantize_embeddings(load_table(s, d, "embeddings"),
                               "vec_id", "embedding")
        .select("vec_id", F.round("scale", 6).alias("scale6"),
                F.posexplode("codes").alias("pos", "code")))
    q["ann_int8"] = lambda s, d: HF.int8_topk(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=10).select(
            "query_id", "neighbor_id", "rank")

    # ---- multimodal plumbing
    q["multimodal_decode"] = lambda s, d: HF.decode_media_meta(
        HF.attach_media(load_table(s, d, "documents").select(
            "doc_id", F.encode("text", "utf-8").alias("payload")), "payload",
            media_type="image", fmt="png")).select(
        "doc_id", F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.digest").alias("digest"),
        "width", "height", "channels")

    # ---- native format() surface: same final state as cow_snapshot but
    # read through spark.read.format("hoodie_spark") (Python DataSource,
    # per-slice pyarrow reads) instead of the library reader
    def _q_datasource(s, d):
        from hoodie_spark.sources import HoodieDataSource

        tbl = _fixture(s, d, "orders_cow")["tbl"]
        s.dataSource.register(HoodieDataSource)
        return _data(s.read.format("hoodie_spark")
                     .load(tbl.base_path)).select(*_ORDER_COLS)
    q["datasource_read"] = _q_datasource

    # ---- past the driver's 50-row window (verified by tools/check_oracle.py
    # instead): cow_point_lookup exercises the same read_keys pruning path as
    # the in-window cow_read_keys row, so it is the operator row allowed to
    # spill; the pipeline ops below were added after the window filled.
    q["cow_point_lookup"] = lambda s, d: _data(
        _fixture(s, d, "orders_cow")["tbl"].read_keys(
            s.range(1).select(F.lit(100).cast("long").alias("o_orderkey"))
        )).select(*_ORDER_COLS)

    def _pii_aug(s, d):
        # synthesize deterministic PII into the corpus so redaction has
        # something to scrub at every sf
        return load_table(s, d, "documents").select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" contact u"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com or 10.0.0."),
                     (F.col("doc_id") % 200).cast("string")).alias("text"))
    q["pii_redaction"] = lambda s, d: _pii_aug(s, d).select(
        "doc_id", HF.redact_pii("text").alias("red"),
        HF.pii_hits("text").alias("hits"))
    q["hash_sample"] = lambda s, d: HF.deterministic_sample(
        load_table(s, d, "documents"), "doc_id", keep=1, out_of=4
    ).select("doc_id")
    q["shard_packing"] = lambda s, d: HF.pack_shards(
        load_table(s, d, "documents").select(
            "doc_id", HF.token_count("text").cast("double").alias("w")),
        "w", 2000.0, ["doc_id"], num_buckets=8).select("doc_id", "shard_id")
    q["ngram_freq"] = lambda s, d: HF.top_ngrams(
        load_table(s, d, "documents"), "text", n=4, k=20)
    q["zorder_clustering"] = lambda s, d: _data(
        _fixture(s, d, "orders_zorder")["tbl"].snapshot()).select(*_ORDER_COLS)
    q["mor_logcompaction"] = lambda s, d: _data(
        _fixture(s, d, "orders_logcompact")["tbl"].snapshot()).select(
            *_ORDER_COLS)
    q["expr_data_skipping"] = lambda s, d: _data(
        _fixture(s, d, "orders_exprskip")["tbl"]
        .snapshot(skip_filters=[("yr", "=", 1997)])
        .filter("year(o_orderdate) = 1997")).select(*_ORDER_COLS)
    q["corpus_filter"] = lambda s, d: HF.filter_corpus(
        load_table(s, d, "documents"), "text", langs=["en", "und"],
        min_quality=0.75, min_tokens=30, max_pii_hits=0).select("doc_id")
    # fixed-length training-sequence packing: docs concatenate in id order
    # and split across 256-token boundaries (exact integer semantics)
    q["pack_sequences"] = lambda s, d: HF.pack_sequences(
        load_table(s, d, "documents").select(
            "doc_id", HF.token_count("text").alias("w")),
        "w", 256, ["doc_id"], num_buckets=8).select(
            "doc_id", "seq_id", "piece_start", "piece_len")
    q["embedding_projection"] = lambda s, d: load_table(
        s, d, "embeddings").select(
            "vec_id", *[F.round(p, 6).alias(f"p{i}") for i, p in enumerate(
                HF.random_projection(F.col("embedding"), 4, 64))])

    def _q_decontaminate(s, d):
        # benchmark decontamination: the hash-held-out eval split
        # contaminates the corpus wherever a word 4-gram leaks
        docs = load_table(s, d, "documents")
        test = docs.filter(F.col("doc_id") % 20 == 0)
        corpus = docs.filter(F.col("doc_id") % 20 != 0)
        return HF.decontaminate(corpus, test, n=4).select("doc_id")
    q["decontaminate"] = _q_decontaminate
    q["stratified_sample"] = lambda s, d: HF.stratified_sample(
        load_table(s, d, "documents"), "lang", "doc_id", 30
    ).select("doc_id", "lang")

    def _q_gopher(s, d):
        # Gopher-style shape/repetition quality gate: per-doc metrics +
        # keep flag (functions/quality.py; thresholds = GOPHER_DEFAULTS)
        docs = load_table(s, d, "documents")
        m = HF.gopher_metrics("text")
        return HF.gopher_filter(docs, "text", keep_col="keep").select(
            "doc_id",
            m.n_words.cast("long").alias("n_words"),
            F.round(m.mean_word_len, 6).alias("mean_word_len"),
            F.round(m.alpha_word_frac, 6).alias("alpha_word_frac"),
            m.stopword_hits.cast("long").alias("stopword_hits"),
            F.round(m.dup_span_frac, 6).alias("dup_span_frac"),
            F.round(m.top_bigram_frac, 6).alias("top_bigram_frac"),
            "keep")
    q["gopher_quality"] = _q_gopher
    q["dedup_spans"] = lambda s, d: HF.dedup_spans(
        load_table(s, d, "documents"), "doc_id", "text",
        span_width=4, min_docs=2)

    q["analyze_skipping"] = lambda s, d: _data(
        _fixture(s, d, "orders_analyze")["tbl"]
        .snapshot(skip_filters=[("yr", "=", 1996)])
        .filter("year(o_orderdate) = 1996")).select(*_ORDER_COLS)
    q["text_tfidf"] = lambda s, d: HF.tfidf_terms(
        load_table(s, d, "documents"), "doc_id", "text", vocab_size=32)

    def _q_bpe(s, d):
        # BPE tokenizer: iterative merge training is not SQL-expressible,
        # so this row is rows-only (no oracle_sql entry) by design; the
        # pytest suite hand-checks the merge sequence and round-trip
        docs = load_table(s, d, "documents")
        merges = HF.bpe_train(docs, "text", num_merges=48)
        return docs.select(
            "doc_id", HF.bpe_token_count("text", merges).alias("n_tokens"))
    q["bpe_tokenize"] = _q_bpe

    def _q_ann_pq(s, d):
        # product-quantization ANN: deterministic codebooks from the first
        # 16 corpus rows, asymmetric-distance scoring, rank-only output
        emb = load_table(s, d, "embeddings")
        return HF.pq_topk(emb, emb.filter("vec_id < 10"),
                          "vec_id", "embedding", k=10, m=8, n_codes=16)
    q["ann_pq"] = _q_ann_pq

    def _q_ann_pq_rerank(s, d):
        # two-stage serving: ADC shortlist (top-30) then exact-cosine
        # re-rank to top-10 — stage-2 cost independent of corpus size
        emb = load_table(s, d, "embeddings")
        return HF.pq_topk_rerank(
            emb, emb.filter("vec_id < 10"), "vec_id", "embedding",
            k=10, shortlist=30, m=8, n_codes=16).select(
            "query_id", "neighbor_id", "rank")
    q["ann_pq_rerank"] = _q_ann_pq_rerank

    q["chunk_documents"] = lambda s, d: HF.chunk_documents(
        load_table(s, d, "documents"), "doc_id", "text",
        chunk_tokens=64, overlap=8)
    q["source_mix_sample"] = lambda s, d: HF.source_weighted_sample(
        load_table(s, d, "documents"), "source", "doc_id",
        rates={"src0": 0.25, "src1": 0.5, "src2": 0.0},
        default_rate=0.75).select("doc_id", "source")
    q["knn_classify"] = lambda s, d: HF.knn_classify(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter("vec_id < 10"),
        "vec_id", "embedding", "label", k=10)
    q["events_json_agg"] = lambda s, d: (
        load_table(s, d, "events")
        .select("event_type",
                F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"), F.max("k").alias("max_k")))
    q["unigram_logprob"] = lambda s, d: HF.unigram_logprob(
        load_table(s, d, "documents"), "doc_id", "text", vocab_size=64)

    def _q_corpus_pipeline(s, d):
        # the end-to-end training-data recipe as ONE composition: Gopher
        # gate -> exact dedup -> decontaminate vs the hash-held-out eval
        # split -> per-language quota -> token-budget shard packing
        # (functions/pipeline.corpus_pipeline); each piece is verified
        # solo, this row proves the chained semantics
        docs = load_table(s, d, "documents")
        test = docs.filter(F.col("doc_id") % 20 == 0)
        corpus = docs.filter(F.col("doc_id") % 20 != 0)
        return HF.corpus_pipeline(corpus, test)
    q["corpus_pipeline"] = _q_corpus_pipeline

    # character-distribution Shannon entropy: the gibberish/boilerplate
    # signal, computed entirely in-row (sorted char array -> run lengths
    # -> decimal-summed terms) — map-only, zero shuffle
    q["char_entropy"] = lambda s, d: load_table(s, d, "documents").select(
        "doc_id", HF.char_entropy("text").alias("entropy"))
    # temperature-scaled source mixing (GPT-3/PaLM recipe) over the
    # genuinely skewed language mix (en dominates ~3x); alpha=0.5 uses the
    # exact integer-sqrt quantization so the SQL oracle reproduces the
    # selection bit-for-bit
    q["temperature_mix"] = lambda s, d: HF.temperature_mix(
        load_table(s, d, "documents"), "lang", "doc_id",
        alpha=0.5).select("doc_id", "lang")
    # corpus length-distribution diagnostic: exact two-pass equal-width
    # histogram (bins=16 keeps the width division exact in binary)
    q["length_histogram"] = lambda s, d: HF.column_histogram(
        load_table(s, d, "documents"), "n_chars", bins=16).select(
        "bucket", F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"), "n")
    # cluster-balanced curation sampling: nearest-centroid assignment
    # (broadcast map pass) + per-cluster md5-order quota (WindowGroupLimit)
    q["cluster_balanced_sample"] = lambda s, d: HF.cluster_balanced_sample(
        load_table(s, d, "embeddings"), "vec_id", "embedding",
        per_cluster=20, n_clusters=16)

    def _q_mm_features(s, d):
        # multimodal feature extraction: Arrow-batched mapInPandas embeds
        # each payload (deterministic md5-derived fake codec — the plug
        # point for a real model); exploded to (doc_id, j, feat) so the
        # oracle compares scalars, round-6 washing the float32 roundtrip
        docs = load_table(s, d, "documents")
        m = HF.attach_media(docs.select(
            "doc_id", F.encode("text", "utf-8").alias("p")), "p")
        f = HF.extract_features(m, dim=4)
        return (f.select("doc_id",
                         F.posexplode("features").alias("j", "feat"))
                .select("doc_id", "j",
                        F.round(F.col("feat").cast("double"), 6)
                        .alias("feat")))
    q["multimodal_features"] = _q_mm_features

    # ---- SQL-on-snapshot (TPC-H style). Deliberately LAST: the driver
    # records only the first 50 queries, and every unique operator must land
    # inside that window — TPC-H rows are parity evidence for one §2.6 row,
    # so they are the ones allowed to spill past the cutoff.
    for name in TPCH_SQL:
        q[name] = _q_tpch(name)

    # ---- DSIR importance resampling (Xie et al., NeurIPS 2023): score
    # corpus docs by hashed-ngram likelihood ratio vs a target
    # distribution, select the top-k (functions/pipeline.dsir_select).
    # Appended AFTER TPC-H so the curated r11 window (all 21 never-
    # recorded rows) is untouched; new unique operator — rotate it into
    # the window in round 12 per the standing policy.
    def _q_dsir(s, d):
        docs = load_table(s, d, "documents").select(
            "doc_id", "text", "source")
        target = docs.filter(F.col("source") == "src0") \
                     .select("doc_id", "text")
        return HF.dsir_select(docs.select("doc_id", "text"), target,
                              "doc_id", "text", k=200)
    q["dsir_select"] = _q_dsir

    # ---- hard-negative mining (round 12, contrastive-training primitive):
    # for each query vector, the k most-cosine-similar corpus vectors with
    # a DIFFERENT label (functions/similarity.hard_negative_mine — exact
    # baseline; hard_negative_mine_ivf is the inverted-list scale path).
    # Defined at the END so existing window positions are untouched; the
    # promote swap below rotates it in.
    q["hard_negatives"] = lambda s, d: HF.hard_negative_mine(
        load_table(s, d, "embeddings"),
        load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
        "vec_id", "embedding", "label", k=10).select(
            "query_id", "neighbor_id", "neighbor_label", "rank")

    # ---- cross-corpus overlap analytics (round 12): exact pairwise
    # shingle-set Jaccard between sources (functions/dedup.corpus_overlap;
    # corpus_overlap_minhash is the G×H-sketch scale path, also exact vs
    # the oracle because the md5 minhash scheme is engine-portable).
    # Defined at the END so existing window positions are untouched; the
    # promote swaps below rotate the two uniques in.
    q["corpus_overlap"] = lambda s, d: HF.corpus_overlap(
        load_table(s, d, "documents"), "source", "text")
    q["corpus_overlap_minhash"] = lambda s, d: HF.corpus_overlap_minhash(
        load_table(s, d, "documents"), "source", "text", num_hashes=64)

    # ---- deterministic epoch shuffle (round 12): seeded global training
    # -order permutation + sharding (functions/pipeline.epoch_shuffle) —
    # one hash shuffle + per-shard sort, pure function of (seed, epoch,
    # id) so re-runs and repartitions give the identical order.
    q["epoch_shuffle"] = lambda s, d: HF.epoch_shuffle(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", num_shards=16, seed=7, epoch=1).select(
            "doc_id", "shard", "position")

    # ---- incrementally-maintained IVF index (round 12): the fixture
    # builds evens, appends odds, deletes + re-appends a slice, compacts
    # (functions/similarity.append/delete_from/compact_ivf_index); the
    # probe result must equal a probe of a FULL rebuild — the oracle
    # recomputes assignment + probing over the whole raw table.
    def _q_ivf_incr(s, d):
        fx = _fixture(s, d, "ivf_incr")
        return HF.ivf_topk_from_index(
            s, fx["index"], fx["centroids"],
            load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
            "vec_id", "embedding", k=10, n_probe=4).select(
                "query_id", "neighbor_id", "rank")
    q["ann_ivf_incremental"] = _q_ivf_incr

    # ---- ANN index maintained as a table service (round 12): the
    # fixture ingests the embeddings in micro-batches through
    # Ingestor(index_maintainers=[IvfIndexMaintainer]) — watermark +
    # incremental catch-up, delete-then-append on updates — and the
    # probe must hash-match the full-rebuild oracle.
    def _q_ivf_maint(s, d):
        fx = _fixture(s, d, "ivf_maint")
        return HF.ivf_topk_from_index(
            s, fx["index"], fx["centroids"],
            load_table(s, d, "embeddings").filter(F.col("vec_id") < 10),
            "vec_id", "embedding", k=10, n_probe=4).select(
                "query_id", "neighbor_id", "rank")
    q["ann_index_maintained"] = _q_ivf_maint

    # ---- maintained corpus-overlap sketches (round 12): overlap()
    # computed from the batch-by-batch min-merged state; registered PAST
    # the window as a variant of in-window corpus_overlap_minhash (the
    # policy precedent: ANN variants), verified via check_oracle.
    q["corpus_overlap_incremental"] = lambda s, d: _fixture(
        s, d, "sketch_maint")["m"].overlap()

    # ---- leakage-safe split as maintained state (round 13): streaming
    # assignment over three id-ordered exact-copy batches must equal one
    # batch pass over the union (streaming/split_maintainer.py).
    q["leakage_split_incremental"] = lambda s, d: _fixture(
        s, d, "split_maint")["m"].assignments().select("doc_id", "split")

    # ---- bigram-LM perplexity (round 12, CCNet-style quality signal):
    # add-one-smoothed bigram LM over the top-64-unigram vocabulary
    # (<unk>-collapsed), per-doc logprob + perplexity
    # (functions/lm.bigram_perplexity). Defined at the END so existing
    # window positions are untouched; the promote swap rotates it in.
    q["lm_perplexity"] = lambda s, d: HF.bigram_perplexity(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", vocab_size=64)
    # CCNet head/middle/tail: exact equal-population perplexity terciles
    # via the budget family's distributed running total (no single-task
    # window)
    q["ppl_buckets"] = lambda s, d: HF.perplexity_buckets(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", n_buckets=3)
    # DoReMi-style domain mixture reweighting (round 13): per-source
    # token-level NLL under the self-trained bigram LM → excess-loss
    # exponential weights (functions/pipeline.domain_mixture_weights)
    q["domain_mixture"] = lambda s, d: HF.domain_mixture_weights(
        load_table(s, d, "documents").select("doc_id", "source", "text"),
        "source", "doc_id", "text", vocab_size=64, eta=1.0)

    # ---- distribution-shift diagnostics (round 12): per-bucket PSI/KL
    # of the odd-doc token distribution vs the even-doc reference over
    # the 64-bucket portable hash plane (functions/drift.py).
    q["distribution_shift"] = lambda s, d: HF.distribution_shift(
        load_table(s, d, "documents").filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text"),
        load_table(s, d, "documents").filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text"),
        "text", buckets=64)

    # ---- drift as maintained streaming state (round 12): the histogram
    # is a SUM monoid maintained through CDC subtract-then-add, so the
    # maintained shift() must hash-match the batch statistic over the
    # final table (streaming/drift.DriftMonitor).
    q["drift_incremental"] = lambda s, d: _fixture(
        s, d, "drift_maint")["m"].shift()

    # ---- near-duplicate decontamination (round 12): drop corpus docs
    # whose exact shingle Jaccard vs ANY eval doc is >= 0.8, LSH-banded
    # candidates (functions/pipeline.decontaminate_near) — the fuzzy
    # complement to the exact-gram decontaminate row.
    def _q_decon_near(s, d):
        docs = load_table(s, d, "documents").select("doc_id", "text")
        return HF.decontaminate_near(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            "doc_id", "text", threshold=0.8)
    q["decontaminate_near"] = _q_decon_near

    # ---- corpus data card (round 12): per-source doc/dup/token
    # statistics from ONE (group, text-hash) census
    # (functions/pipeline.corpus_report).
    q["corpus_report"] = lambda s, d: HF.corpus_report(
        load_table(s, d, "documents"), "text", "source")

    # ---- exact-substring dedup (round 12, Lee et al. ACL 2022 via
    # content-defined chunking): duplicated >=20-char chunks cut
    # everywhere but their first (doc_id, idx) occurrence, documents
    # reassembled (functions/dedup.exact_substring_dedup).
    q["substring_dedup"] = lambda s, d: HF.exact_substring_dedup(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text")

    # ---- trainable quality classifier (round 12): hashed-feature
    # logistic regression fit by 3 full-batch distributed-GD steps
    # (functions/classifier.quality_classifier) — every iteration is one
    # Spark aggregation with DECIMAL-exact gradient sums, so training is
    # bit-reproducible and the DuckDB oracle replays it exactly.
    q["quality_classifier"] = lambda s, d: HF.quality_classifier(
        load_table(s, d, "documents").select(
            "doc_id", "text",
            (F.col("lang") == "en").cast("int").alias("y")),
        "doc_id", "text", "y", dim=64, iters=3, lr=1.0)

    # ---- keep-BEST dedup (round 14): one winner per near-dup cluster by
    # highest score (here: longest text) instead of arrival order — the
    # production choice when copies differ in extraction quality
    # (functions/dedup.dedup_keep_best; same duplicate relation as
    # leakage_split: sig_near_pairs ∪ exact_text_pairs). Declared past
    # the 50-row window; verified via tools/check_oracle.py.
    q["dedup_keep_best"] = lambda s, d: HF.dedup_keep_best(
        _dup_docs(s, d).withColumn("score", F.length("text")),
        "doc_id", "text", "score").select("doc_id", "n_dups")

    # ---- RHO-style excess-perplexity selection (round 14, Mindermann
    # et al. ICML 2022 with static bigram LMs): per-token NLL under the
    # corpus self-LM minus under a reference LM trained on the curated
    # subset (doc_id % 10 == 0); top-200 by excess — learnable,
    # underrepresented-quality docs (functions/lm.excess_perplexity_select).
    # Declared past the window; verified via tools/check_oracle.py.
    q["excess_ppl_select"] = lambda s, d: HF.excess_perplexity_select(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text",
        load_table(s, d, "documents").filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text"), k=200)

    # ---- keep-best dedup as maintained state (round 14): better-scoring
    # duplicates REPLACE stored winners (delete + upsert); the table after
    # three batches must equal one batch dedup_keep_best pass over the
    # union (streaming/keep_best.KeepBestDeduper). Past the window.
    q["keep_best_incremental"] = lambda s, d: _fixture(
        s, d, "keep_best")["tbl"].snapshot().select("doc_id", "score")

    # ---- fixed-size deterministic sample (round 14): the k rows with
    # the smallest md5(key) priority — repartition/retry-stable, and a
    # monoid, hence maintainable (functions/pipeline.priority_sample).
    # Declared past the window; verified via tools/check_oracle.py.
    q["priority_sample"] = lambda s, d: HF.priority_sample(
        load_table(s, d, "documents").select("doc_id"), "doc_id", 200)

    # ---- maintained reservoir (round 14): bottom-k folded across three
    # insert batches ≡ one batch priority_sample over the union
    # (streaming/reservoir.ReservoirMaintainer). Past the window.
    q["reservoir_incremental"] = lambda s, d: _fixture(
        s, d, "reservoir")["m"].reservoir().select(
            "doc_id", F.col("__pr").alias("pr"))

    # ---- greedy selection under a token budget (round 14): rank by
    # (n_chars, doc_id), keep while the running whitespace-token total
    # stays ≤ 15000 (functions/pipeline.token_budget_select — the
    # budget family's distributed prefix sum, then a map-only cut).
    # Declared past the window; verified via tools/check_oracle.py.
    q["token_budget_select"] = lambda s, d: HF.token_budget_select(
        load_table(s, d, "documents").withColumn(
            "n_tokens", HF.token_count(F.col("text")).cast("long")),
        "n_tokens", 15000, ["n_chars", "doc_id"]).select(
            "doc_id", "n_tokens", "cum_tokens")

    # ---- C4/CCNet-style cross-document line dedup (round 14): lines
    # occurring more than once corpus-wide are dropped from EVERY doc and
    # texts reassembled in original order (functions/dedup.line_dedup).
    # Fixture appends a corpus-wide boilerplate line and a per-doc-or-
    # shared tail so the op has both drop and keep work to do. Declared
    # past the window; verified via tools/check_oracle.py.
    q["line_dedup"] = lambda s, d: HF.line_dedup(
        load_table(s, d, "documents").select(
            "doc_id",
            # coalesce keeps the construction NULL-agnostic on both sides:
            # concat_ws SKIPS a NULL input while the oracle's || propagates
            # it — with coalesce both yield an empty first line.
            F.concat_ws(
                "\n", F.coalesce(F.col("text"), F.lit("")),
                F.lit("subscribe to our newsletter"),
                F.when(F.col("doc_id") % 5 == 0, F.lit("all rights reserved"))
                .otherwise(F.concat(F.lit("tail "),
                                    F.col("doc_id").cast("string"))))
            .alias("text")),
        "doc_id", "text")

    # ---- edit-similarity dedup (round 14): LSH candidates verified by
    # normalized Levenshtein at the distinct-text grain with a length
    # gate and a bounded DP budget (functions/dedup.edit_dedup_pairs) —
    # the ORDER-sensitive verifier next to dedup_jaccard's set-based one.
    # Declared past the window; verified via tools/check_oracle.py.
    q["dedup_edit"] = lambda s, d: HF.edit_dedup_pairs(
        _dup_docs(s, d), "doc_id", "text", threshold=0.9).select(
            "id_a", "id_b", F.round("similarity", 6).alias("similarity"))

    # ---- per-document n-gram novelty (round 14): fraction of a doc's
    # distinct word trigrams with corpus document-frequency 1 — the
    # novelty-weighted-selection signal (functions/pipeline.ngram_novelty).
    # Declared past the window; verified via tools/check_oracle.py.
    q["ngram_novelty"] = lambda s, d: HF.ngram_novelty(
        load_table(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", n=3)

    # ---- per-group distinct-count sketch (round 14): vocabulary size
    # per source from 64 per-group md5 minima — the countDistinct
    # substitute at corpus scale; the ORACLE CHECKS THE ESTIMATE ITSELF
    # (60-bit parse + fixed-order float sum are bit-identical in DuckDB)
    # (functions/dedup.group_distinct_sketch). Declared past the window;
    # verified via tools/check_oracle.py.
    q["distinct_sketch"] = lambda s, d: HF.group_distinct_sketch(
        load_table(s, d, "documents").select(
            "source",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != ""),
        "source", "tok", num_hashes=64)

    # ---- maintained distinct-shingle estimates (round 14): the
    # group_distinct_sketch estimator read straight off the maintained
    # overlap-sketch state (same G×H minima; min is exact under union),
    # so the maintained estimate ≡ the batch estimator over everything
    # folded (streaming/corpus_sketch.CorpusSketchMaintainer.est_distinct).
    # Declared past the window; verified via tools/check_oracle.py.
    q["sketch_distinct_incremental"] = lambda s, d: _fixture(
        s, d, "sketch_maint")["m"].est_distinct()

    # ---- weighted deterministic sample (round 14): Efraimidis–Spirakis
    # via the exponential race e = -ln(u)/w, u hash-uniform from the
    # first 15 md5 hex chars — bit-identical in both engines, so the
    # fixed-size weighted draw is oracle-exact
    # (functions/pipeline.weighted_priority_sample). Declared past the
    # window; verified via tools/check_oracle.py.
    q["weighted_sample"] = lambda s, d: HF.weighted_priority_sample(
        load_table(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", 200).select("doc_id", "n_chars")

    # ---- line census as maintained state (round 14): per-line counts
    # folded over three ingest slices ≡ one batch census over the union
    # — the SUM monoid, exactly (streaming/line_census.LineCensusMaintainer;
    # the incremental half of the line_dedup boilerplate filter).
    # Declared past the window; verified via tools/check_oracle.py.
    q["line_census_incremental"] = lambda s, d: _fixture(
        s, d, "line_census")["m"].census()

    # ---- weighted reservoir as maintained state (round 14): bottom-k
    # by the exponential-race score folded over three insert batches ≡
    # one batch weighted_priority_sample over the union
    # (streaming/reservoir.ReservoirMaintainer(weight_col=...)).
    # Declared past the window; verified via tools/check_oracle.py.
    q["weighted_reservoir_incremental"] = lambda s, d: _fixture(
        s, d, "wres")["m"].reservoir().select(
            "doc_id", F.round("__pr", 6).alias("pr"))

    # ---- 50-row window curation: the driver records CORRECTNESS for the
    # FIRST 50 queries only. Swap this round's new UNIQUE operators into
    # the window in place of close variants of still-in-window rows
    # (insert_overwrite_table ~ insert_overwrite, merge_into_sql ~
    # merge_into, cdc_incremental ~ cdc_upsert); the displaced rows stay
    # oracle-verified via tools/check_oracle.py like everything past 50.
    # Round-9 rotation (VERDICT r8 task #3): insert_overwrite_table,
    # merge_into_sql and cdc_incremental return to the window, displacing
    # the rows that took their place in r7 (gopher_quality — its gate runs
    # inside the in-window corpus_pipeline row; dedup_spans; ann_pq — IVF
    # + brute-force ANN stay in-window). Displaced rows remain
    # oracle-verified via tools/check_oracle.py (record in PLANS.md).
    promote = {"corpus_pipeline": "continuous_rollup",
               # continuous_rollup shares events_window's oracle verbatim
               "chunk_documents": "dedup_jaccard",
               # dedup_jaccard is the verify stage of the in-window
               # dedup_minhash_lsh row; ann_lsh is the third of four
               # in-window ANN variants.
               # source_mix_sample / knn_classify / events_json_agg stay
               # past the window: they are near-variants of hash_sample,
               # ann_brute_force and events_window respectively.
               "unigram_logprob": "ann_lsh",
               # Late round-9 rotation: this round's remaining NEW unique
               # operators enter the window in place of rows whose close
               # sibling stays in-window (displaced rows remain verified
               # by tools/check_oracle.py):
               #   pack_sequences    <-> insert_overwrite   (family stays
               #     evidenced by insert_overwrite_table)
               #   zorder_clustering <-> merge_into         (MERGE surface
               #     stays evidenced by merge_into_sql)
               #   ann_pq_rerank     <-> cdc_upsert         (CDC stays
               #     evidenced by cdc_incremental, whose fixture performs
               #     the CDC-payload writes)
               #   collapse_repeats + semantic_dedup enter by insertion
               #     order (defined beside their families), nudging the
               #     tail past the cutoff; the
               #     multimodal_decode<->text_fingerprint swap pulls the
               #     unique multimodal row back in. Net out: text_
               #     fingerprint (text_stats stays) and unigram_logprob
               #     (driver-recorded in r7 AND r8; stays check_oracle-
               #     verified like every past-window row).
               "pack_sequences": "insert_overwrite",
               "zorder_clustering": "merge_into",
               "ann_pq_rerank": "cdc_upsert",
               "multimodal_decode": "text_fingerprint",
               # char_entropy (new unique text operator) enters in place
               # of ann_ivf: ANN stays evidenced in-window by the exact
               # baseline (ann_brute_force) and the production two-stage
               # path (ann_pq_rerank); temperature_mix/length_histogram
               # stay past the window like the rest of the sampling and
               # diagnostics family (hash_sample, stratified_sample,
               # source_mix_sample).
               "char_entropy": "ann_ivf",
               # Round-10 rotation (standing policy: every unique operator
               # gets driver-recorded at least once). The four round-9
               # uniques still past the cutoff enter against rows whose
               # close sibling stays in-window; displaced rows remain
               # verified by tools/check_oracle.py (PLANS.md):
               #   cluster_balanced_sample <-> mor_read_optimized (MOR
               #     family stays evidenced by mor_snapshot +
               #     mor_compaction, whose fixture reads RO post-compact)
               #   temperature_mix   <-> truncate_table  (overwrite-style
               #     SQL stays evidenced by insert_overwrite_table)
               #   multimodal_features <-> update_where  (SQL DML stays
               #     evidenced by delete_where + merge_into_sql)
               #   length_histogram  <-> cow_read_keys   (key lookup stays
               #     evidenced by cow_filter_exists; cow_point_lookup is
               #     its check_oracle-verified twin)
               "cluster_balanced_sample": "mor_read_optimized",
               "temperature_mix": "truncate_table",
               "multimodal_features": "update_where",
               "length_histogram": "cow_read_keys",
               # round-10 NEW operators (never driver-recorded) enter
               # against rows whose family stays in-window:
               #   ann_int8           <-> delete_partition (replacecommit
               #     family stays evidenced by insert_overwrite_table;
               #     TTL shares the delete_partition machinery)
               #   embedding_quantize <-> global_index_upsert (index
               #     family keeps record/bloom/bucket/secondary in-window)
               "ann_int8": "delete_partition",
               "embedding_quantize": "global_index_upsert",
               #   dedup_containment  <-> chunk_documents (doc-segmentation
               #     family stays evidenced by pack_sequences; containment
               #     is a NEW unique dedup axis — doc-inside-doc)
               "dedup_containment": "chunk_documents",
               # Round-11 rotation (VERDICT r10 task #1): the 16 remaining
               # never-driver-recorded non-TPC-H queries enter the window.
               # Every displaced row was driver-recorded green in r10 (or
               # earlier) and is re-verified via tools/check_oracle.py this
               # round (PLANS.md); each displaced family keeps an in-window
               # representative:
               #   mor_logcompaction <-> mor_incremental (incremental stays
               #     via cow_incremental + cdc_incremental; MOR stays via
               #     mor_snapshot + mor_compaction)
               "mor_logcompaction": "mor_incremental",
               #   expr_data_skipping <-> data_skipping, analyze_skipping
               #     <-> zorder_clustering (skipping family keeps BOTH new
               #     variants in-window; clustering stays via clustering)
               "expr_data_skipping": "data_skipping",
               "analyze_skipping": "zorder_clustering",
               #   pii_redaction <-> collapse_repeats (map-only text family
               #     stays via pii_redaction itself + ngram_freq)
               "pii_redaction": "collapse_repeats",
               #   shard_packing <-> pack_sequences (the same two-pass
               #     prefix-sum family, shard variant now evidenced)
               "shard_packing": "pack_sequences",
               #   stratified/source-mix/hash sampling enter against the
               #     r10-recorded sampling rows
               "stratified_sample": "cluster_balanced_sample",
               "source_mix_sample": "temperature_mix",
               "hash_sample": "dedup_containment",
               #   knn_classify + embedding_projection <-> the r10-recorded
               #     int8 pair (ANN stays via ann_brute_force + ann_pq_rerank)
               "knn_classify": "ann_int8",
               "text_tfidf": "embedding_quantize",
               "embedding_projection": "chunk_documents",
               #   ngram_freq / corpus_filter / decontaminate <-> r10-
               #     recorded near-dup + multimodal rows (near-dup stays
               #     via dedup_minhash_lsh + semantic_dedup +
               #     incremental_dedup; multimodal via multimodal_decode)
               "ngram_freq": "dedup_simhash",
               "corpus_filter": "dedup_embedding",
               "decontaminate": "multimodal_features",
               #   events_json_agg <-> length_histogram (events family also
               #     evidenced by sessionize + events_window)
               "events_json_agg": "length_histogram",
               #   bpe_tokenize <-> text_stats: BPE gets its first driver
               #     record (rows-only by documented design — no oracle);
               #     text family stays via text_tfidf/pii/ngram rows
               "bpe_tokenize": "text_stats",
               # ...and the final five: the never-driver-recorded TPC-H
               # variants enter against heavily-recorded rows whose family
               # stays in-window, completing 109/109 driver-recorded:
               #   (COW reads stay via cow_snapshot + cow_incremental;
               #    events via sessionize + events_json_agg; MOR services
               #    via mor_snapshot + mor_logcompaction; dedup via
               #    minhash_lsh/groups/incremental; key lookups via
               #    secondary_index_lookup)
               "tpch_q2": "cow_time_travel",
               # Round-12 rotation (VERDICT r11 task #1): dsir_select —
               # the single queries() entry never driver-recorded (added
               # in r11 past the window) — enters against tpch_q2, which
               # got its driver record in r11; TPC-H stays heavily
               # in-window (q11/q16/q20/q21 recorded in r11, the other
               # 17 in earlier rounds) and the displaced q2 is
               # re-verified via tools/check_oracle.py (PLANS.md). After
               # this swap all 110 declared queries have driver records.
               "dsir_select": "tpch_q2",
               # hard_negatives (new unique operator this round) enters
               # against hash_sample, whose sampling family keeps
               # stratified_sample + source_mix_sample in-window (all
               # three got driver records in r11); displaced row
               # re-verified via tools/check_oracle.py (PLANS.md)
               "hard_negatives": "hash_sample",
               # corpus_overlap + corpus_overlap_minhash + epoch_shuffle
               # (new uniques this round) enter against r11-recorded rows
               # whose family keeps an in-window representative; all three
               # displaced rows re-verified via tools/check_oracle.py
               # (PLANS.md):
               #   corpus_overlap <-> ngram_freq (n-gram text analytics
               #     stays via text_tfidf + pii_redaction + bpe_tokenize)
               "corpus_overlap": "ngram_freq",
               #   corpus_overlap_minhash <-> corpus_filter (corpus
               #     filtering stays via corpus_pipeline, whose quality
               #     gate subsumes corpus_filter's predicate)
               "corpus_overlap_minhash": "corpus_filter",
               #   epoch_shuffle <-> source_mix_sample (sampling/mixing
               #     stays via stratified_sample; temperature_mix and
               #     hash_sample are its check_oracle-verified siblings)
               "epoch_shuffle": "source_mix_sample",
               #   ann_ivf_incremental <-> knn_classify (r11-recorded;
               #     ANN stays via ann_brute_force + ann_pq_rerank +
               #     hard_negatives; knn re-verified via check_oracle)
               "ann_ivf_incremental": "knn_classify",
               #   ann_index_maintained <-> embedding_projection (r11-
               #     recorded; embedding family stays via semantic_dedup
               #     + the in-window ANN rows; displaced row re-verified)
               "ann_index_maintained": "embedding_projection",
               "tpch_q11": "events_window",
               "tpch_q16": "mor_compaction",
               "tpch_q20": "dedup_exact",
               "tpch_q21": "cow_filter_exists",
               # Round-12 late additions (new uniques this round) enter
               # against r11-recorded rows whose family keeps an
               # in-window representative; displaced rows re-verified via
               # tools/check_oracle.py (PLANS.md):
               #   lm_perplexity <-> text_tfidf (text analytics stays
               #     via pii_redaction + bpe_tokenize + corpus_pipeline;
               #     unigram_logprob is lm's check_oracle-verified
               #     sibling)
               "lm_perplexity": "text_tfidf",
               #   quality_classifier <-> decontaminate (the corpus
               #     gating family stays via corpus_pipeline, which
               #     chains the gopher gate AND 4-gram decontamination)
               "quality_classifier": "decontaminate",
               #   distribution_shift <-> analyze_skipping (the skipping
               #     family keeps expr_data_skipping in-window;
               #     data_skipping is its check_oracle-verified sibling)
               "distribution_shift": "analyze_skipping",
               #   drift_incremental <-> mor_logcompaction (MOR stays via
               #     mor_snapshot in-window; compaction recorded r≤10 and
               #     re-verified via check_oracle)
               "drift_incremental": "mor_logcompaction",
               #   substring_dedup <-> dedup_groups (the near-dup family
               #     keeps dedup_minhash_lsh + semantic_dedup +
               #     incremental_dedup in-window; displaced row
               #     re-verified via check_oracle)
               "substring_dedup": "dedup_groups",
               #   ppl_buckets <-> shard_packing (the distributed-rank /
               #     prefix-sum family keeps pack_sequences-verified
               #     siblings; shard_packing recorded r11 and re-verified
               #     via check_oracle)
               "ppl_buckets": "shard_packing",
               #   corpus_report <-> events_json_agg (events family keeps
               #     sessionize in-window; displaced row recorded r11 and
               #     re-verified via check_oracle)
               "corpus_report": "events_json_agg",
               #   decontaminate_near <-> pii_redaction (map-only text
               #     family keeps bpe_tokenize + corpus_pipeline +
               #     lm_perplexity in-window; displaced row recorded r11
               #     and re-verified via check_oracle)
               "decontaminate_near": "pii_redaction",
               # Round-13 rotation: corpus_overlap_incremental was the
               # only declared query with no driver record (added late
               # r12, past the window). It shares its oracle SQL with
               # corpus_overlap_minhash — the maintained-state row proves
               # the identical sketch math PLUS the incremental fold — so
               # displacing the minhash row loses no oracle coverage;
               # corpus_overlap stays in-window for the family. Displaced
               # row re-verified via check_oracle (PLANS.md).
               "corpus_overlap_incremental": "corpus_overlap_minhash",
               #   domain_mixture <-> stratified_sample (round-13 new
               #     unique; the sampling/mixing family keeps its
               #     check_oracle-verified siblings source_mix_sample,
               #     temperature_mix, hash_sample — and domain_mixture
               #     itself is the mixing family's reweighting step;
               #     displaced row re-verified via check_oracle)
               "domain_mixture": "stratified_sample",
               #   leakage_split <-> hard_negatives swap; because
               #     leakage_split is declared mid-dict (beside
               #     dedup_jaccard) the NET window change displaces
               #     ann_brute_force off the tail — the ANN family keeps
               #     ann_pq_rerank, ann_ivf_incremental,
               #     ann_index_maintained AND hard_negatives in-window;
               #     ann_brute_force re-verified via check_oracle
               "leakage_split": "hard_negatives",
               # Round-14 rotation (VERDICT r13 task #2): the maintained
               # split enters the window — it was the one declared query
               # with no driver record (judge-verified green in r13).
               # Displaced: corpus_overlap — its family keeps the
               # strictly-wider corpus_overlap_incremental in-window
               # (same sketch + same overlap oracle family); re-verified
               # via tools/check_oracle.py, recorded in PLANS.md. Net
               # window change checked by the before/after diff (the r13
               # net-displacement lesson): exactly {-corpus_overlap,
               # +leakage_split_incremental}.
               "leakage_split_incremental": "corpus_overlap"}
    keys = list(q)
    for new, old in promote.items():
        i, j = keys.index(old), keys.index(new)
        keys[i], keys[j] = keys[j], keys[i]
    return {k: q[k] for k in keys}


# ------------------------------------------------------------ oracle_sql()
# DuckDB SQL reproducing each query's expected result from the raw tables.

_NIB = "(strpos('0123456789abcdef', {c}) - 1)"


def _hex4(col: str, start: int) -> str:
    """int(md5[start:start+4], 16) in portable SQL (4 hex nibbles)."""
    nibs = [_NIB.format(c=f"substr({col}, {start + i}, 1)") for i in range(4)]
    return f"((({nibs[0]} * 16 + {nibs[1]}) * 16 + {nibs[2]}) * 16 + {nibs[3]})"


_DOC_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' zz' AS text FROM documents
)
"""


def _lr_oracle_sql(dim: int, iters: int, lr: float, label_expr: str) -> str:
    """DuckDB replay of functions/classifier.train_hashed_lr +
    quality_classifier: one CTE block per gradient-descent iteration,
    unrolled. Deterministic by the same rounding/DECIMAL discipline as
    the Spark side (see functions/classifier.py module docstring)."""
    setup = rf"""
WITH tok AS (
  SELECT doc_id, {label_expr} AS y,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t,
         lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS tn
  FROM documents
),
ft AS (
  SELECT doc_id, y,
         list_transform(t, x -> CAST({_hex4('md5(x)', 1)} % {dim} AS INT)) AS bk,
         len(t) AS n
  FROM tok WHERE len(t) >= 1
),
nd AS (SELECT count(*) AS n_docs FROM ft),
w0 AS (SELECT CAST(b AS INT) AS b, CAST(0 AS DECIMAL(18,12)) AS wt
       FROM range(0, {dim + 1}) t(b))"""
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(rf""",
wl{k} AS (SELECT list(wt ORDER BY b) AS wv FROM w{p} WHERE b < {dim}),
wb{k} AS (SELECT CAST(wt AS DOUBLE) AS bias FROM w{p} WHERE b = {dim}),
d{k} AS (
  SELECT f.doc_id, f.y, f.n, f.bk,
         round(1.0 / (1.0 + exp(-round(
             CAST(list_sum(list_transform(f.bk, b -> wl{k}.wv[b + 1])) AS DOUBLE)
             / f.n + wb{k}.bias, 6))), 6) - f.y AS r
  FROM ft f, wl{k}, wb{k}
),
g{k} AS (
  SELECT b, SUM(c) AS g FROM (
    SELECT unnest(d.bk) AS b,
           CAST(round(d.r / d.n, 12) AS DECIMAL(28,12)) AS c FROM d{k} d
    UNION ALL
    SELECT {dim} AS b,
           CAST(round(d.r, 12) AS DECIMAL(28,12)) AS c FROM d{k} d
  ) GROUP BY b
),
w{k} AS (
  SELECT w.b,
         CAST(round(CAST(w.wt AS DOUBLE)
                    - {lr} * CAST(coalesce(g.g, 0) AS DOUBLE) / nd.n_docs,
                    12) AS DECIMAL(18,12)) AS wt
  FROM w{p} w LEFT JOIN g{k} g ON w.b = g.b, nd
)""")
    final = rf""",
wlF AS (SELECT list(wt ORDER BY b) AS wv FROM w{iters} WHERE b < {dim}),
wbF AS (SELECT CAST(wt AS DOUBLE) AS bias FROM w{iters} WHERE b = {dim}),
sc AS (
  -- empty/NULL/whitespace-only docs score at the bias alone (x = 0),
  -- matching score_hashed_lr's documented contract
  SELECT t.doc_id, CAST(t.y AS BIGINT) AS label,
         CASE WHEN length(t.tn) = 0
              THEN round(1.0 / (1.0 + exp(-round(wbF.bias, 6))), 6)
              ELSE round(1.0 / (1.0 + exp(-round(
                  CAST(coalesce(list_sum(list_transform(
                      list_transform(t.t, x -> CAST({_hex4('md5(x)', 1)} % {dim} AS INT)),
                      b -> wlF.wv[b + 1])), 0) AS DOUBLE)
                  / len(t.t) + wbF.bias, 6))), 6) END AS score
  FROM tok t, wlF, wbF
)
SELECT doc_id, label, score,
       CAST(score >= 0.5 AS BIGINT) AS predicted FROM sc
"""
    return setup + "".join(steps) + final

_MINHASH_SIG = """
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus
),
sh AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 5
              THEN list_distinct(list_transform(range(1, length(t) - 3),
                                                i -> substr(t, CAST(i AS INT), 5)))
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM norm
),
sig AS (
  SELECT doc_id, shingles,
         list_transform(range(0, 16), h ->
           list_min(list_transform(shingles,
             s -> md5('h' || CAST(h AS VARCHAR) || ':' || s)))) AS sig
  FROM sh WHERE len(shingles) > 0
),
bands AS (
  SELECT doc_id, b,
         md5(sig[b*4+1] || sig[b*4+2] || sig[b*4+3] || sig[b*4+4]) AS bh
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
)
"""

_TOKENS = ("list_filter(string_split_regex(lower({t}), '\\s+'), " "x -> x <> '')")

_EN_MARKERS = "['the', 'a', 'of', 'and', 'is']"
_LANG_CASES = {
    "en": _EN_MARKERS, "de": "['der', 'die', 'und', 'ist', 'das']",
    "es": "['el', 'la', 'de', 'que', 'es']",
    "fr": "['le', 'la', 'et', 'les', 'des']",
    "zh": "['de', 'shi', 'le', 'zai', 'he']",
}


def _lang_score_sql(lang: str) -> str:
    toks = _TOKENS.format(t="text")
    return (f"len(list_filter(list_distinct({toks}), "
            f"x -> list_contains({_LANG_CASES[lang]}, x)))")


def _lang_id_sql() -> str:
    scores = {lang: _lang_score_sql(lang) for lang in _LANG_CASES}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = best THEN '{lang}'" for lang in _LANG_CASES)
    return (f"CASE WHEN best <= 0 THEN 'und'{whens} ELSE 'und' END").replace(
        "best", best)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    sel_orders = ", ".join(_ORDER_COLS)

    o["cow_snapshot"] = _COW_FINAL
    o["cow_time_travel"] = f"SELECT {sel_orders} FROM orders"
    o["cow_incremental"] = """
SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
       o_totalprice + 100.0 AS o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 10 = 0
"""
    o["cow_read_keys"] = f"""
SELECT * FROM ({_COW_FINAL}) WHERE o_orderkey % 13 = 1
"""
    o["cow_filter_exists"] = """
SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 3
"""
    o["cow_point_lookup"] = f"""
SELECT * FROM ({_COW_FINAL}) WHERE o_orderkey = 100
"""
    # training-pipeline ops over documents (past the driver window; verified
    # by tools/check_oracle.py)
    from hoodie_spark.functions.pipeline import _PII_PATTERNS

    aug = ("text || ' contact u' || CAST(doc_id AS VARCHAR) || "
           "'@example.com or 10.0.0.' || CAST(doc_id % 200 AS VARCHAR)")
    steps = [f"s0 AS (SELECT doc_id, {aug} AS c, 0 AS h FROM documents)"]
    for i, (tag, pat) in enumerate(_PII_PATTERNS):
        steps.append(
            f"s{i + 1} AS (SELECT doc_id, "
            f"regexp_replace(c, '{pat}', '<{tag.upper()}>', 'g') AS c, "
            f"h + len(regexp_extract_all(c, '{pat}')) AS h FROM s{i})")
    o["pii_redaction"] = ("WITH " + ",\n".join(steps) +
                          f"\nSELECT doc_id, c AS red, h AS hits "
                          f"FROM s{len(_PII_PATTERNS)}")
    o["hash_sample"] = f"""
SELECT doc_id FROM documents
WHERE ({_hex4("md5(CAST(doc_id AS VARCHAR))", 1)}) % 4 < 1
"""
    o["shard_packing"] = f"""
WITH w AS (SELECT doc_id,
                  CAST(len({_TOKENS.format(t='text')}) AS DOUBLE) AS w
           FROM documents)
SELECT doc_id,
       CAST(floor((sum(w) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - w) / 2000.0) AS BIGINT)
         AS shard_id
FROM w
"""
    o["ngram_freq"] = """
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN length(t) >= 4
                   THEN list_distinct(list_transform(range(1, length(t) - 2),
                                      i -> substr(t, CAST(i AS INT), 4)))
                   ELSE CAST([] AS VARCHAR[]) END AS shingles
       FROM norm),
ex AS (SELECT unnest(shingles) AS ngram FROM sh)
SELECT ngram, COUNT(*) AS df FROM ex
GROUP BY ngram ORDER BY df DESC, ngram ASC LIMIT 20
"""
    # corpus quality gate: same predicates as text_stats' columns, plus the
    # pii chain (on the raw text) folded to a hit count
    pii_steps = ["p0 AS (SELECT doc_id, text AS c, 0 AS h FROM documents)"]
    for i, (tag, pat) in enumerate(_PII_PATTERNS):
        pii_steps.append(
            f"p{i + 1} AS (SELECT doc_id, "
            f"regexp_replace(c, '{pat}', '<{tag.upper()}>', 'g') AS c, "
            f"h + len(regexp_extract_all(c, '{pat}')) AS h FROM p{i})")
    o["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, len({_TOKENS.format(t='text')}) AS w FROM documents
),
pos AS (
  SELECT doc_id, w,
         CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t WHERE w > 0
)
SELECT doc_id, CAST(u.k AS BIGINT) AS seq_id,
       CAST(GREATEST(off, u.k * 256) - off AS BIGINT) AS piece_start,
       CAST(LEAST(off + w, (u.k + 1) * 256)
            - GREATEST(off, u.k * 256) AS BIGINT) AS piece_len
FROM pos, UNNEST(range(off // 256, (off + w - 1) // 256 + 1)) AS u(k)
"""
    o["corpus_filter"] = ("WITH " + ",\n".join(pii_steps) + f"""
SELECT d.doc_id FROM documents d
JOIN p{len(_PII_PATTERNS)} pp ON d.doc_id = pp.doc_id
WHERE ({_lang_id_sql()}) IN ('en', 'und')
  AND round(
        0.4 * least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
      + 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / greatest(CAST(length(text) AS DOUBLE), 1.0))
      + 0.2 * least(CAST({_lang_score_sql('en')} AS DOUBLE) / 5.0, 1.0)
      + 0.1 * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
               / greatest(CAST(length(text) AS DOUBLE), 1.0)), 6) >= 0.75
  AND len({_TOKENS.format(t='text')}) >= 30
  AND pp.h <= 0
""")

    # decontamination: word 4-gram overlap between the hash-held-out eval
    # split and the rest of the corpus; exact string membership — no floats
    o["decontaminate"] = """
WITH tok AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
  FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-3, 0))) AS i)
),
test_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
SELECT doc_id FROM documents
WHERE doc_id % 20 != 0
  AND doc_id NOT IN (
    SELECT DISTINCT doc_id FROM grams
    WHERE doc_id % 20 != 0 AND g IN (SELECT g FROM test_grams))
"""

    # stratified sampling: per-stratum quota by md5-of-key order — pure
    # string comparison, engine-identical
    o["stratified_sample"] = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 30
"""

    # Gopher gate / span dedup share the Spark-side tokenization verbatim:
    # split(lower(trim(regexp_replace(text,'\s+',' '))), ' ') with NO empty
    # filter, 4-word spans via inclusive list slices (clamped tails on both
    # engines), fractions of exact integer counts (bit-identical doubles),
    # round(x, 6) on every surfaced/thresholded double.
    _TOK_CTE = r"""
tok AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
  FROM documents
)"""
    _SPANS4 = ("list_transform(range(1, greatest(CAST(ceil(len(t)/4.0) AS "
               "BIGINT), 1) + 1), i -> array_to_string(t[(i-1)*4+1:i*4], ' '))")
    o["gopher_quality"] = f"""
WITH {_TOK_CTE},
base AS (
  SELECT doc_id, t,
         {_SPANS4} AS sp,
         CASE WHEN len(t) - 1 >= 1
              THEN list_transform(range(1, CAST(len(t) AS BIGINT)),
                                  i -> array_to_string(t[i:i+1], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM tok
),
m AS (
  SELECT doc_id,
    len(t) AS n_words,
    round(list_sum(list_transform(t, w -> CAST(length(w) AS DOUBLE)))
          / greatest(CAST(len(t) AS DOUBLE), 1.0), 6) AS mean_word_len,
    round(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
          / greatest(CAST(len(t) AS DOUBLE), 1.0), 6) AS alpha_word_frac,
    len(list_filter(list_distinct(t),
        x -> list_contains(['the','a','and','of','to','in','is','that',
                            'for','with'], x))) AS stopword_hits,
    round(1.0 - CAST(len(list_distinct(sp)) AS DOUBLE)
          / greatest(CAST(len(sp) AS DOUBLE), 1.0), 6) AS dup_span_frac,
    round(CASE WHEN len(bg) >= 1
               THEN CAST(list_max(list_transform(list_distinct(bg),
                      b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
                    / CAST(len(bg) AS DOUBLE)
               ELSE 0.0 END, 6) AS top_bigram_frac
  FROM base
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stopword_hits,
       dup_span_frac, top_bigram_frac,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND alpha_word_frac >= 0.8 AND stopword_hits >= 2
        AND dup_span_frac <= 0.4 AND top_bigram_frac <= 0.2) AS keep
FROM m
"""
    o["dedup_spans"] = f"""
WITH {_TOK_CTE},
spans AS (
  SELECT doc_id, i AS idx, array_to_string(t[(i-1)*4+1:i*4], ' ') AS span
  FROM tok, LATERAL unnest(range(1, greatest(CAST(ceil(len(t)/4.0) AS BIGINT),
                                             1) + 1)) AS u(i)
),
kill AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY span)
  WHERE df >= 2
),
kept AS (SELECT * FROM spans WHERE span NOT IN (SELECT span FROM kill)),
tot AS (SELECT doc_id, count(*) AS n_spans_total FROM spans GROUP BY doc_id)
SELECT k.doc_id,
       string_agg(k.span, ' ' ORDER BY k.idx) AS text,
       count(*) AS n_spans_kept,
       any_value(t.n_spans_total) AS n_spans_total
FROM kept k JOIN tot t ON k.doc_id = t.doc_id
GROUP BY k.doc_id
"""

    # per-source mixing: 16-bit md5 hash vs integer thresholds
    # (floor(rate*65536) computed once in Python) — no float compares
    o["source_mix_sample"] = f"""
SELECT doc_id, source FROM documents
WHERE ({_hex4("md5(CAST(doc_id AS VARCHAR))", 1)}) <
      CASE source WHEN 'src0' THEN 16384 WHEN 'src1' THEN 32768
                  WHEN 'src2' THEN 0 ELSE 49152 END
"""

    # JSON path extraction parity: Spark get_json_object('$.k') ==
    # DuckDB props->>'k'; integer aggregates only
    o["events_json_agg"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS BIGINT)) AS min_k,
       max(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""

    # sliding-window chunking: both engines clamp list slices at the end
    # and ceil the same exact double ratio; no floats surface
    o["chunk_documents"] = f"""
WITH {_TOK_CTE},
ch AS (
  SELECT doc_id, t, len(t) AS n,
         greatest(CAST(ceil((len(t) - 8) / 56.0) AS BIGINT), 1) AS nc
  FROM tok
)
SELECT doc_id, i - 1 AS chunk_id,
       array_to_string(t[(i-1)*56+1 : (i-1)*56+64], ' ') AS chunk_text,
       least(64, n - (i-1)*56) AS n_tokens
FROM ch, LATERAL unnest(range(1, nc + 1)) AS u(i)
"""

    # unigram LM logprob: per-token lp rounded to 6 at the VOCAB (V
    # values); per-doc sum in DECIMAL(18,6) — exact and order-free, so
    # Spark partial aggregation and this grouped SUM cannot drift
    o["unigram_logprob"] = f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
tot AS (SELECT count(*) AS n FROM ex),
vc AS (
  SELECT term, count(*) AS c FROM ex GROUP BY term
  ORDER BY c DESC, term LIMIT 64
),
vocab AS (
  SELECT term, round(ln((c + 1.0) / (tot.n + 64.0)), 6) AS lp
  FROM vc, tot
),
scored AS (
  SELECT e.doc_id,
         coalesce(v.lp,
                  (SELECT round(ln(1.0 / (n + 64.0)), 6) FROM tot)) AS lp
  FROM ex e LEFT JOIN vocab v USING (term)
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS logprob
FROM scored GROUP BY doc_id
"""

    # end-to-end corpus pipeline: the gopher gate, exact dedup,
    # 4-gram decontamination, per-lang quota and shard packing CTEs are
    # the SAME proven fragments as their solo oracle rows, chained —
    # decontamination grams come from ALL docs (a per-doc overlap decision
    # is independent of which other corpus docs survive earlier stages)
    o["corpus_pipeline"] = f"""
WITH tokall AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents
),
tok AS (SELECT * FROM tokall WHERE doc_id % 20 != 0),
base AS (
  SELECT doc_id, t,
         {_SPANS4} AS sp,
         CASE WHEN len(t) - 1 >= 1
              THEN list_transform(range(1, CAST(len(t) AS BIGINT)),
                                  i -> array_to_string(t[i:i+1], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM tok
),
m AS (
  SELECT doc_id,
    len(t) AS n_words,
    round(list_sum(list_transform(t, w -> CAST(length(w) AS DOUBLE)))
          / greatest(CAST(len(t) AS DOUBLE), 1.0), 6) AS mean_word_len,
    round(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
          / greatest(CAST(len(t) AS DOUBLE), 1.0), 6) AS alpha_word_frac,
    len(list_filter(list_distinct(t),
        x -> list_contains(['the','a','and','of','to','in','is','that',
                            'for','with'], x))) AS stopword_hits,
    round(1.0 - CAST(len(list_distinct(sp)) AS DOUBLE)
          / greatest(CAST(len(sp) AS DOUBLE), 1.0), 6) AS dup_span_frac,
    round(CASE WHEN len(bg) >= 1
               THEN CAST(list_max(list_transform(list_distinct(bg),
                      b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
                    / CAST(len(bg) AS DOUBLE)
               ELSE 0.0 END, 6) AS top_bigram_frac
  FROM base
),
gk AS (
  SELECT doc_id FROM m
  WHERE n_words >= 20 AND n_words <= 100000
    AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
    AND alpha_word_frac >= 0.8 AND stopword_hits >= 2
    AND dup_span_frac <= 0.4 AND top_bigram_frac <= 0.2
),
dd AS (
  SELECT doc_id FROM (
    SELECT g.doc_id,
           row_number() OVER (PARTITION BY md5(d.text)
                              ORDER BY g.doc_id) AS rn
    FROM gk g JOIN documents d ON d.doc_id = g.doc_id) WHERE rn = 1
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
  FROM tokall, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-3, 0))) AS i)
),
test_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
bad AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % 20 != 0 AND g IN (SELECT g FROM test_grams)
),
clean AS (SELECT doc_id FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
strat AS (
  SELECT doc_id, lang FROM (
    SELECT d.doc_id, d.lang,
           row_number() OVER (PARTITION BY d.lang
                              ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                       d.doc_id) AS rn
    FROM clean c JOIN documents d ON d.doc_id = c.doc_id) WHERE rn <= 25
),
w AS (
  SELECT s.doc_id, s.lang,
         CAST(len({_TOKENS.format(t='d.text')}) AS DOUBLE) AS w
  FROM strat s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, lang, CAST(w AS BIGINT) AS n_tokens,
       CAST(floor((sum(w) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - w) / 2000.0) AS BIGINT)
         AS shard_id
FROM w
"""

    # TF-IDF: vocab = top-32 document-frequency terms (df desc, term asc),
    # smooth idf ln((N+1)/(df+1))+1; weights rounded to 6 (ln's last ulp
    # can differ across libm implementations)
    o["text_tfidf"] = f"""
WITH {_TOK_CTE},
ex AS (SELECT doc_id, len(t) AS l, unnest(t) AS term FROM tok),
vocab AS (
  SELECT term, df,
         ln((SELECT count(*) + 1.0 FROM documents) / (df + 1.0)) + 1.0 AS idf
  FROM (SELECT term, count(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY term
        ORDER BY df DESC, term LIMIT 32)
),
tc AS (SELECT doc_id, l, term, count(*) AS c FROM ex GROUP BY doc_id, l, term)
SELECT tc.doc_id, tc.term,
       round((CAST(c AS DOUBLE) / l) * idf, 6) AS tfidf
FROM tc JOIN vocab USING (term)
"""

    # PQ ANN: codebooks = sub-vectors of the first 16 rows (same
    # deterministic convention as ann_ivf's centroids); codes by L2 argmin
    # with (dist, code) tie-break = Spark's first-index array_position;
    # scoring dots the raw query against the flattened reconstruction in
    # one left-to-right 64-element fold — rank-only output, like ann_ivf.
    _pq_adc = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
n AS (
  SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
  FROM v
),
cb AS (SELECT vec_id AS code, ve FROM v WHERE vec_id < 16),
dists AS (
  SELECT a.vec_id, j.j, c.code,
         list_sum(list_transform(range(1, 9),
           i -> (a.ve[CAST(j.j*8+i AS INT)] - c.ve[CAST(j.j*8+i AS INT)])
              * (a.ve[CAST(j.j*8+i AS INT)] - c.ve[CAST(j.j*8+i AS INT)])))
         AS d
  FROM v a CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j CROSS JOIN cb c
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT vec_id, flatten(list(sub ORDER BY j)) AS re FROM (
    SELECT cd.vec_id, cd.j,
           cb.ve[CAST(cd.j*8+1 AS BIGINT):CAST(cd.j*8+8 AS BIGINT)] AS sub
    FROM codes cd JOIN cb ON cb.code = cd.code)
  GROUP BY vec_id
),
rn2 AS (
  -- per-subspace squared-norm chains summed left-assoc: the exact ADC
  -- grouping the engine uses (_pq_code_norm), not a flat 64-fold
  SELECT vec_id, re,
         sqrt((re[1]*re[1] + re[2]*re[2] + re[3]*re[3] + re[4]*re[4] + re[5]*re[5] + re[6]*re[6] + re[7]*re[7] + re[8]*re[8]) + (re[9]*re[9] + re[10]*re[10] + re[11]*re[11] + re[12]*re[12] + re[13]*re[13] + re[14]*re[14] + re[15]*re[15] + re[16]*re[16]) + (re[17]*re[17] + re[18]*re[18] + re[19]*re[19] + re[20]*re[20] + re[21]*re[21] + re[22]*re[22] + re[23]*re[23] + re[24]*re[24]) + (re[25]*re[25] + re[26]*re[26] + re[27]*re[27] + re[28]*re[28] + re[29]*re[29] + re[30]*re[30] + re[31]*re[31] + re[32]*re[32]) + (re[33]*re[33] + re[34]*re[34] + re[35]*re[35] + re[36]*re[36] + re[37]*re[37] + re[38]*re[38] + re[39]*re[39] + re[40]*re[40]) + (re[41]*re[41] + re[42]*re[42] + re[43]*re[43] + re[44]*re[44] + re[45]*re[45] + re[46]*re[46] + re[47]*re[47] + re[48]*re[48]) + (re[49]*re[49] + re[50]*re[50] + re[51]*re[51] + re[52]*re[52] + re[53]*re[53] + re[54]*re[54] + re[55]*re[55] + re[56]*re[56]) + (re[57]*re[57] + re[58]*re[58] + re[59]*re[59] + re[60]*re[60] + re[61]*re[61] + re[62]*re[62] + re[63]*re[63] + re[64]*re[64])) AS rnrm
  FROM recon
),
q AS (SELECT vec_id, ve, nrm FROM n WHERE vec_id < 10),
scored AS (
  -- dot = Σ_j (per-subspace 8-term chain): matches _pq_luts bit-for-bit
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ((q.ve[1]*c.re[1] + q.ve[2]*c.re[2] + q.ve[3]*c.re[3] + q.ve[4]*c.re[4] + q.ve[5]*c.re[5] + q.ve[6]*c.re[6] + q.ve[7]*c.re[7] + q.ve[8]*c.re[8]) + (q.ve[9]*c.re[9] + q.ve[10]*c.re[10] + q.ve[11]*c.re[11] + q.ve[12]*c.re[12] + q.ve[13]*c.re[13] + q.ve[14]*c.re[14] + q.ve[15]*c.re[15] + q.ve[16]*c.re[16]) + (q.ve[17]*c.re[17] + q.ve[18]*c.re[18] + q.ve[19]*c.re[19] + q.ve[20]*c.re[20] + q.ve[21]*c.re[21] + q.ve[22]*c.re[22] + q.ve[23]*c.re[23] + q.ve[24]*c.re[24]) + (q.ve[25]*c.re[25] + q.ve[26]*c.re[26] + q.ve[27]*c.re[27] + q.ve[28]*c.re[28] + q.ve[29]*c.re[29] + q.ve[30]*c.re[30] + q.ve[31]*c.re[31] + q.ve[32]*c.re[32]) + (q.ve[33]*c.re[33] + q.ve[34]*c.re[34] + q.ve[35]*c.re[35] + q.ve[36]*c.re[36] + q.ve[37]*c.re[37] + q.ve[38]*c.re[38] + q.ve[39]*c.re[39] + q.ve[40]*c.re[40]) + (q.ve[41]*c.re[41] + q.ve[42]*c.re[42] + q.ve[43]*c.re[43] + q.ve[44]*c.re[44] + q.ve[45]*c.re[45] + q.ve[46]*c.re[46] + q.ve[47]*c.re[47] + q.ve[48]*c.re[48]) + (q.ve[49]*c.re[49] + q.ve[50]*c.re[50] + q.ve[51]*c.re[51] + q.ve[52]*c.re[52] + q.ve[53]*c.re[53] + q.ve[54]*c.re[54] + q.ve[55]*c.re[55] + q.ve[56]*c.re[56]) + (q.ve[57]*c.re[57] + q.ve[58]*c.re[58] + q.ve[59]*c.re[59] + q.ve[60]*c.re[60] + q.ve[61]*c.re[61] + q.ve[62]*c.re[62] + q.ve[63]*c.re[63] + q.ve[64]*c.re[64]))
         / (q.nrm * c.rnrm) AS cos
  FROM rn2 c CROSS JOIN q WHERE c.vec_id <> q.vec_id
)"""
    o["ann_pq"] = _pq_adc + """
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    # two-stage PQ serving: ADC shortlist (top-30, the scored CTE above)
    # then exact-cosine re-rank from the raw vectors — the dot is the same
    # left-to-right 64-fold as ann_brute_force, so ranks match bit-for-bit
    o["ann_pq_rerank"] = _pq_adc + """,
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 30
),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q2.ve[CAST(i AS INT)]))
         / (c.nrm * q2.nrm) AS cos
  FROM short s
  JOIN n c ON c.vec_id = s.neighbor_id
  JOIN n q2 ON q2.vec_id = s.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM rescored
) WHERE rank <= 10
"""

    # JL projection: the exact +-1 plane matrix is deterministic (md5-derived
    # in Python), so the oracle embeds it as literals; the sum is written
    # left-associative to match Spark's sequential fold order.
    from hoodie_spark.functions.similarity import _plane_matrix

    def _proj_sql(row):
        # ((0.0 + x1) - x2) + ... : left-associative double chain, exactly
        # Spark's sequential fold (+-1 weights fold into the sign, which is
        # an exact float op)
        parts = ["0.0"]
        for j, w in enumerate(row):
            parts.append(("+" if w > 0 else "-") +
                         f" CAST(embedding[{j + 1}] AS DOUBLE)")
        return "round(" + " ".join(parts) + ", 6)"

    _proj_cols = ",\n       ".join(
        f"{_proj_sql(r)} AS p{i}"
        for i, r in enumerate(_plane_matrix(4, 64)))
    o["embedding_projection"] = f"""
SELECT vec_id,
       {_proj_cols}
FROM embeddings
"""
    # final state of orders_si, filtered to the looked-up custkeys: raw
    # custkeys with custkey%97=3 plus their moved (+1000000) counterparts
    o["secondary_index_lookup"] = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
            ELSE o_custkey END AS o_custkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
         AS o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey % 7 <> 3 AND o_custkey % 97 = 3
"""
    o["insert_overwrite"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""
    o["delete_partition"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE year(o_orderdate) <> 1998
"""
    o["insert_overwrite_table"] = f"""
SELECT {sel_orders} FROM orders WHERE o_orderkey % 2 = 0
"""
    o["rollback_restore"] = f"SELECT {sel_orders} FROM orders"
    o["clustering"] = f"SELECT {sel_orders} FROM orders"
    o["zorder_clustering"] = f"SELECT {sel_orders} FROM orders"
    o["expr_data_skipping"] = f"""
SELECT {sel_orders} FROM orders WHERE year(o_orderdate) = 1997
"""
    o["analyze_skipping"] = f"""
SELECT {sel_orders} FROM orders WHERE year(o_orderdate) = 1996
"""
    o["mor_logcompaction"] = """
SELECT o_orderkey, o_custkey,
       'S' || CAST(o_orderkey % 3 AS VARCHAR) AS o_orderstatus,
       o_totalprice + (o_orderkey % 3) AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""

    o["mor_snapshot"] = _MOR_FINAL
    o["mor_read_optimized"] = f"SELECT {sel_orders} FROM orders"
    o["mor_incremental"] = """
SELECT o_orderkey, o_custkey, 'Y' AS o_orderstatus,
       o_totalprice + 50.0 AS o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 5 = 0
"""
    o["mor_compaction"] = _MOR_FINAL

    o["truncate_table"] = f"""
SELECT {sel_orders} FROM orders WHERE o_orderkey % 4 = 2
"""
    o["merge_into"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 10.0 AS o_totalprice, o_orderdate,
       'MERGED' AS o_orderpriority
FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice + 10.0 > 50000
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 5 = 1
"""
    o["merge_into_sql"] = o["merge_into"]
    o["update_where"] = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       CASE WHEN o_orderstatus = 'F' THEN '0-URGENT'
            ELSE o_orderpriority END AS o_orderpriority
FROM orders
"""
    o["delete_where"] = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       CASE WHEN o_orderstatus = 'F' THEN '0-URGENT'
            ELSE o_orderpriority END AS o_orderpriority
FROM orders WHERE NOT (o_totalprice < 20000)
"""
    o["record_index_upsert"] = _COW_FINAL
    o["bloom_index_upsert"] = _COW_FINAL
    o["bucket_index_upsert"] = _COW_FINAL
    o["bootstrap_read"] = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""
    o["archived_timeline_read"] = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       'A' || CAST(o_orderkey % 10 AS VARCHAR) AS o_orderpriority
FROM orders
"""
    o["data_skipping"] = f"""
SELECT {sel_orders} FROM orders WHERE o_totalprice > 300000.0
"""
    o["cdc_upsert"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 3.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 13 <> 5
"""
    # change events after the initial load of the cow fixture: commit 2
    # updates every key%10=0 (status X, price+100), commit 3 deletes key%7=3
    # (whose pre-image reflects commit 2 where both predicates hit)
    o["cdc_incremental"] = """
SELECT 'u' AS op, o_orderkey,
       o_orderstatus AS before_status, o_totalprice AS before_price,
       'X' AS after_status, o_totalprice + 100.0 AS after_price
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT 'd' AS op, o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END,
       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM orders WHERE o_orderkey % 7 = 3
"""
    o["schema_evolution"] = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority,
       CASE WHEN o_orderkey % 8 = 0 THEN 'upd'
            ELSE CAST(NULL AS VARCHAR) END AS o_comment
FROM orders
"""
    o["partial_update_payload"] = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 4 = 2 THEN o_totalprice + 7.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""
    o["global_index_upsert"] = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 9 = 7 THEN 'G' ELSE o_orderstatus END AS o_orderstatus,
       o_totalprice,
       CASE WHEN o_orderkey % 9 = 7 THEN o_orderdate + INTERVAL 365 DAY
            ELSE o_orderdate END AS o_orderdate,
       o_orderpriority
FROM orders
"""
    o["ingest_pipeline"] = """
SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id,
       event_type, value, props
FROM events
"""
    o["sessionize"] = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
lagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT event_id, user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) - 1 AS n
  FROM lagged
)
SELECT event_id,
       CAST(user_id AS VARCHAR) || '#' || CAST(n AS VARCHAR) AS session_id,
       epoch_us(MIN(ts) OVER (PARTITION BY user_id, n)) AS session_start_us
FROM sess
"""
    o["events_window"] = f"""
SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 300000000) * 300000000 AS w_start,
       event_type, COUNT(*) AS cnt,
       {_sum_d('value', 'sum_value')}
FROM events GROUP BY 1, 2
"""
    # the streaming rollup must land on the same batch answer
    o["continuous_rollup"] = o["events_window"]
    o["asof_join"] = """
WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
      FROM events WHERE event_type = 'click')
SELECT l.event_id,
       (SELECT epoch_us(r.ts) FROM r
        WHERE r.user_id = l.user_id AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS click_ts_us,
       (SELECT r.value FROM r
        WHERE r.user_id = l.user_id AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS click_value
FROM l
"""
    o["range_join"] = """
WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + INTERVAL 6 HOUR AS e,
             event_id AS click_id
      FROM events WHERE event_type = 'click')
SELECT l.event_id, r.click_id
FROM l JOIN r ON l.user_id = r.user_id AND r.s <= l.ts AND l.ts <= r.e
"""

    for name, sql in TPCH_SQL.items():
        o[name] = sql.format(**_RAW)

    toks = _TOKENS.format(t="text")
    o["text_stats"] = f"""
SELECT doc_id,
       len({toks}) AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 \\t\\n\\r]')) AS n_regex_tokens,
       {_lang_id_sql()} AS lang_pred,
       round(
         0.4 * least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
       + 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                / greatest(CAST(length(text) AS DOUBLE), 1.0))
       + 0.2 * least(CAST({_lang_score_sql('en')} AS DOUBLE) / 5.0, 1.0)
       + 0.1 * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
                / greatest(CAST(length(text) AS DOUBLE), 1.0)), 6) AS quality
FROM documents
"""
    o["text_fingerprint"] = f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
sh AS (
  SELECT doc_id, toks, norm,
         CASE WHEN length(norm) >= 5
              THEN list_distinct(list_transform(range(1, length(norm) - 3),
                                                i -> substr(norm, CAST(i AS INT), 5)))
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM t
)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS fp,
       md5(array_to_string(
         list_sort(list_transform(shingles, s -> md5(s)))[1:8], '')) AS kfp
FROM sh
"""
    # consecutive-duplicate-token collapse: zipped unnest pairs each token
    # with its ordinal, lag() finds the predecessor, string_agg rebuilds
    # the text in order — same single-space normalization as the engine
    o["collapse_repeats"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
  FROM documents
),
w AS (
  SELECT doc_id, unnest(l) AS w,
         unnest(range(1, len(l) + 1)) AS i, len(l) AS n
  FROM t
),
f AS (
  SELECT doc_id, w, i, n,
         lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
  FROM w
)
SELECT doc_id,
       string_agg(w, ' ' ORDER BY i)
         FILTER (WHERE pw IS NULL OR w <> pw) AS text_clean,
       CAST(any_value(n) - count(*)
         FILTER (WHERE pw IS NULL OR w <> pw) AS INT) AS n_removed
FROM f GROUP BY doc_id
"""
    o["dedup_exact"] = """
SELECT min(doc_id) AS doc_id FROM (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
) GROUP BY md5(text)
"""
    o["dedup_minhash_lsh"] = f"""
WITH {_DOC_CORPUS}, {_MINHASH_SIG}
SELECT id_a, id_b FROM cand
"""
    # incremental-vs-global equivalence contract: the Spark side ingests
    # three id-ordered batches through IncrementalDeduper; the oracle is
    # ONE global pass — keep doc iff no smaller-id doc is an exact dup or
    # an LSH-band candidate with >= 13/16 agreeing signature positions
    # (13 = min_sig_matches(0.8, 16), integer compare in both engines)
    mm = HF.min_sig_matches(0.8, 16)
    o["incremental_dedup"] = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents
  UNION ALL SELECT doc_id + 20000 AS doc_id, text || ' zz' AS text
  FROM documents
), {_MINHASH_SIG},
near AS (
  SELECT c.id_b FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) >= {mm}
),
exact AS (
  SELECT b.doc_id AS id_b FROM corpus a JOIN corpus b
  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
)
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT id_b FROM near UNION SELECT id_b FROM exact)
"""
    # leakage-safe split: components over the SAME two edge types the
    # maintained SplitMaintainer uses — near edges gated by MinHash
    # signature agreement (>= 13/16, sig_near_pairs) and exact-text
    # edges; whole component assigned by the 16-bit md5 hash of its min
    # id; cuts at round(0.8*65536)=52429 / round(0.9*65536)=58982
    o["leakage_split"] = f"""
WITH RECURSIVE {_DOC_CORPUS}, {_MINHASH_SIG},
vp AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) >= {mm}
),
ex2 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM corpus a JOIN corpus b
  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM vp
  UNION SELECT id_b AS a, id_a AS b FROM vp
  UNION SELECT id_a, id_b FROM ex2
  UNION SELECT id_b, id_a FROM ex2
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
grp AS (SELECT a AS id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
keyed AS (
  SELECT c.doc_id, coalesce(g.group_id, c.doc_id) AS k
  FROM corpus c LEFT JOIN grp g ON g.id = c.doc_id
),
hs AS (SELECT doc_id,
              {_hex4("md5(CAST(k AS VARCHAR))", 1)} % 65536 AS h
       FROM keyed)
SELECT doc_id,
       CASE WHEN h < 52429 THEN 'train'
            WHEN h < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM hs
"""
    # keep-best dedup: the SAME component relation as leakage_split
    # (sig-agreement near edges ∪ exact-text edges → connected
    # components); winner per component = max(length(text)), ties →
    # min(doc_id); n_dups = component size (1 for singletons)
    o["dedup_keep_best"] = f"""
WITH RECURSIVE {_DOC_CORPUS}, {_MINHASH_SIG},
vp AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) >= {mm}
),
ex2 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM corpus a JOIN corpus b
  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM vp
  UNION SELECT id_b AS a, id_a AS b FROM vp
  UNION SELECT id_a, id_b FROM ex2
  UNION SELECT id_b, id_a FROM ex2
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
grp AS (SELECT a AS id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
mem AS (
  SELECT c.doc_id, coalesce(g.group_id, c.doc_id) AS k,
         length(c.text) AS score
  FROM corpus c LEFT JOIN grp g ON g.id = c.doc_id
),
best AS (SELECT k, max(score) AS smax,
                CAST(count(*) AS BIGINT) AS n_dups
         FROM mem GROUP BY k),
win AS (SELECT m.k, min(m.doc_id) AS doc_id
        FROM mem m JOIN best b ON m.k = b.k AND m.score = b.smax
        GROUP BY m.k)
SELECT w.doc_id, b.n_dups FROM win w JOIN best b ON w.k = b.k
"""
    # maintained keep-best ≡ batch keep-best over the 3-batch union: the
    # SAME component relation as dedup_keep_best (sig-agreement near
    # edges ∪ exact-text edges), winner = max(score) tie min(doc_id);
    # scores: originals length(text), +10000 copies +10, +20000 copies −5
    o["keep_best_incremental"] = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text, length(text) AS score FROM documents
  UNION ALL SELECT doc_id + 10000, text, length(text) + 10 FROM documents
  UNION ALL SELECT doc_id + 20000, text, length(text) - 5 FROM documents
), {_MINHASH_SIG},
vp AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) >= {mm}
),
ex2 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM corpus a JOIN corpus b
  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM vp
  UNION SELECT id_b AS a, id_a AS b FROM vp
  UNION SELECT id_a, id_b FROM ex2
  UNION SELECT id_b, id_a FROM ex2
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
grp AS (SELECT a AS id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
mem AS (
  SELECT c.doc_id, coalesce(g.group_id, c.doc_id) AS k, c.score
  FROM corpus c LEFT JOIN grp g ON g.id = c.doc_id
),
best AS (SELECT k, max(score) AS smax FROM mem GROUP BY k),
win AS (SELECT m.k, min(m.doc_id) AS doc_id
        FROM mem m JOIN best b ON m.k = b.k AND m.score = b.smax
        GROUP BY m.k)
SELECT w.doc_id, b.smax AS score FROM win w JOIN best b ON w.k = b.k
"""
    # fixed-size deterministic sample: bottom-k by the full md5 hex
    # string of the key (hex compares identically in both engines)
    o["priority_sample"] = """
SELECT doc_id FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT 200
"""
    # maintained reservoir ≡ batch bottom-k over the 3-batch union
    o["reservoir_incremental"] = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL SELECT doc_id + 10000 FROM documents
  UNION ALL SELECT doc_id + 20000 FROM documents
)
SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS pr FROM corpus
ORDER BY pr, doc_id
LIMIT 500
"""
    # greedy token-budget selection: running whitespace-token sum in
    # (n_chars, doc_id) rank order, keep rows with cum ≤ 15000 — the
    # kept set is a strict rank prefix (weights are non-negative)
    o["token_budget_select"] = f"""
WITH t AS (SELECT doc_id, n_chars,
                  CAST(len({_TOKENS.format(t='text')}) AS BIGINT)
                    AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY n_chars, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t)
SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 15000
"""
    # line dedup: same lined fixture; occurrence census per raw line,
    # drop lines over max_df=1, reassemble ordered by position (DuckDB
    # zips parallel unnests positionally)
    o["line_dedup"] = """
WITH lined AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) || 'subscribe to our newsletter'
         || chr(10) ||
         CASE WHEN doc_id % 5 = 0 THEN 'all rights reserved'
              ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined)
),
cnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l JOIN cnt USING (line)
  WHERE c <= 1
),
built AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(b.t, '') AS text
FROM lined d LEFT JOIN built b USING (doc_id)
"""
    # distinct sketch: 64 per-group md5 minima; the estimate reproduces
    # bit-for-bit (same parse, same left-to-right sum, IEEE division)
    _dsk_mins = ", ".join(
        f"min(md5('h{i}:' || tok)) AS h{i}" for i in range(64))
    _dsk_sum = " + ".join(
        f"((CAST(concat('0x', substr(h{i}, 1, 15)) AS BIGINT) + 1)"
        f" / 1152921504606846977.0)" for i in range(64))
    o["distinct_sketch"] = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(
    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
),
sk AS (SELECT source, {_dsk_mins} FROM toks GROUP BY source)
SELECT source,
       round(CAST(64 AS DOUBLE) / ({_dsk_sum}) - 1.0, 4) AS est_distinct
FROM sk
"""
    # weighted sample: same exponential-race priority, 15 md5 nibbles
    # parsed via the 0x-prefix BIGINT cast. The integer u is engine-exact
    # by construction; -ln(u)/w matching bit-for-bit additionally relies
    # on JVM Math.log and DuckDB libm agreeing (JVM guarantees 1 ulp) —
    # empirically verified on this platform (r14 sweep), noted as a
    # fragility in weighted_priority's docstring.
    o["weighted_sample"] = """
WITH pr AS (
  SELECT doc_id, n_chars,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846977.0)
         / CAST(n_chars AS DOUBLE) AS e
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, n_chars FROM pr ORDER BY e, doc_id LIMIT 200
"""
    # maintained weighted reservoir ≡ batch weighted draw over the union
    # of the three shifted batches (same exponential-race priority)
    o["weighted_reservoir_incremental"] = """
WITH corpus AS (
  SELECT doc_id, n_chars FROM documents
  UNION ALL SELECT doc_id + 10000, n_chars FROM documents
  UNION ALL SELECT doc_id + 20000, n_chars FROM documents
),
pr AS (
  SELECT doc_id,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846977.0)
         / CAST(n_chars AS DOUBLE) AS e
  FROM corpus WHERE CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, round(e, 6) AS pr FROM pr ORDER BY e, doc_id LIMIT 500
"""
    # maintained line census ≡ batch census over the union of the three
    # ingest slices (which is the whole lined corpus)
    o["line_census_incremental"] = """
WITH lined AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) || 'subscribe to our newsletter'
         || chr(10) ||
         CASE WHEN doc_id % 5 = 0 THEN 'all rights reserved'
              ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents
),
lines AS (
  SELECT unnest(string_split(text, chr(10))) AS line FROM lined
)
SELECT md5(line) AS lhash, count(*) AS n FROM lines GROUP BY 1
"""
    # edit-similarity pairs: the house LSH candidates, then exact
    # levenshtein on the raw corpus texts — 1 - lev/max_len >= 0.9
    o["dedup_edit"] = f"""
WITH {_DOC_CORPUS}, {_MINHASH_SIG}
SELECT id_a, id_b, round(sim, 6) AS similarity FROM (
  SELECT c.id_a, c.id_b,
         1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE)
           AS sim
  FROM cand c
  JOIN corpus a ON a.doc_id = c.id_a
  JOIN corpus b ON b.doc_id = c.id_b
) WHERE sim >= 0.9
"""
    # n-gram novelty: distinct word trigrams per doc, document frequency
    # by plain count (grams pre-deduped per doc), novel = df == 1
    o["ngram_novelty"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS.format(t='text')} AS t FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
           i -> array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))))
           AS g
  FROM toks WHERE len(t) >= 3
),
dfq AS (SELECT g, count(*) AS c FROM g GROUP BY g)
SELECT doc_id, count(*) AS n_grams,
       round(avg(CASE WHEN c = 1 THEN 1.0E0 ELSE 0.0E0 END), 6)
         AS novel_frac
FROM g JOIN dfq USING (g)
GROUP BY doc_id
"""
    # streaming split ≡ batch: components over sig-agreement near edges
    # (the maintainer's gate, >= 13/16) UNION exact-text edges, min root,
    # the same 16-bit hash cuts as leakage_split (0.8/0.1/0.1)
    o["leakage_split_incremental"] = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
  UNION ALL SELECT doc_id + 20000, text FROM documents
), {_MINHASH_SIG},
near AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  WHERE len(list_filter(range(1, 17),
        i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) >= {mm}
),
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM corpus a JOIN corpus b
  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM near
  UNION SELECT id_b, id_a FROM near
  UNION SELECT id_a, id_b FROM exact
  UNION SELECT id_b, id_a FROM exact
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
grp AS (SELECT a AS id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
keyed AS (
  SELECT c.doc_id, coalesce(g.group_id, c.doc_id) AS k
  FROM corpus c LEFT JOIN grp g ON g.id = c.doc_id
),
hs AS (SELECT doc_id,
              {_hex4("md5(CAST(k AS VARCHAR))", 1)} % 65536 AS h
       FROM keyed)
SELECT doc_id,
       CASE WHEN h < 52429 THEN 'train'
            WHEN h < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM hs
"""
    # transitive closure of the LSH candidate pairs; group = component min
    o["dedup_groups"] = f"""
WITH RECURSIVE {_DOC_CORPUS}, {_MINHASH_SIG},
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION SELECT id_b AS a, id_a AS b FROM cand
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
)
SELECT a AS id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a
"""
    # SemDeDup: assignment = ann_ivf's nearest-centroid CTE (aff ties ->
    # smaller centroid id), pair gate = the same left-to-right 64-fold
    # cosine, groups = dedup_groups' recursive reach; survivors = every id
    # not out-ranked by a smaller member of its component
    o["semantic_dedup"] = """
WITH RECURSIVE v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
  FROM embeddings
),
n AS (
  SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
  FROM v
),
cent AS (SELECT * FROM n WHERE vec_id < 16),
aff AS (
  SELECT a.vec_id AS c_id, k.vec_id AS k_id,
         list_sum(list_transform(range(1, 65),
           i -> a.ve[CAST(i AS INT)] * k.ve[CAST(i AS INT)]))
         / (a.nrm * k.nrm) AS aff
  FROM n a CROSS JOIN cent k
),
asg AS (
  SELECT c_id, k_id AS centroid FROM (
    SELECT c_id, k_id,
           row_number() OVER (PARTITION BY c_id
                              ORDER BY aff DESC, k_id) AS rn
    FROM aff) WHERE rn = 1
),
cand AS (
  SELECT a.c_id AS id_a, b.c_id AS id_b
  FROM asg a JOIN asg b ON a.centroid = b.centroid AND a.c_id < b.c_id
  JOIN n na ON na.vec_id = a.c_id
  JOIN n nb ON nb.vec_id = b.c_id
  WHERE list_sum(list_transform(range(1, 65),
          i -> na.ve[CAST(i AS INT)] * nb.ve[CAST(i AS INT)]))
        / (na.nrm * nb.nrm) >= 0.99
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION SELECT id_b AS a, id_a AS b FROM cand
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
losers AS (
  SELECT a AS id FROM reach GROUP BY a HAVING MIN(b) < a
)
SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT id FROM losers)
"""
    o["dedup_jaccard"] = f"""
WITH {_DOC_CORPUS}, {_MINHASH_SIG},
pairs AS (
  SELECT c.id_a, c.id_b, a.shingles AS sh_a, b.shingles AS sh_b
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
  SELECT id_a, id_b,
         CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE)
         / CAST(len(sh_a) + len(sh_b)
                - len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE) AS j
  FROM pairs
) WHERE j >= 0.8
"""
    # containment: brute force in SQL via the exploded shingle equi-join
    # (the 120-doc fixture keeps sum(df^2) small); the Spark side's prefix
    # filter is EXACT, so the two pair sets must be identical
    o["dedup_containment"] = """
WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
halves AS (
  SELECT doc_id + 20000 AS doc_id,
         array_to_string(w[1:CAST(len(w)//2 AS INT)], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM raw)
),
corpus AS (SELECT * FROM raw UNION ALL SELECT * FROM halves),
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM corpus
),
s AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 5
              THEN list_distinct(list_transform(range(1, length(t) - 3),
                                                i -> substr(t, CAST(i AS INT), 5)))
              ELSE CAST([] AS VARCHAR[]) END AS sh
  FROM norm
),
s2 AS (SELECT doc_id, sh, len(sh) AS m FROM s WHERE len(sh) > 0),
ex AS (SELECT doc_id, m, unnest(sh) AS t FROM s2),
ov AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.m AS m_a, b.m AS m_b,
         COUNT(*) AS i
  FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / CAST(least(m_a, m_b) AS DOUBLE), 6)
       AS containment
FROM ov WHERE i >= CEIL(0.9 * least(m_a, m_b) - 1e-9)
"""
    hexbits = "'8', '9', 'a', 'b', 'c', 'd', 'e', 'f'"
    o["dedup_simhash"] = f"""
WITH tok AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, 33), i ->
           CASE WHEN list_sum(list_transform(toks, t ->
                  CASE WHEN substr(md5(t), CAST(i AS INT), 1) IN ({hexbits})
                       THEN 1 ELSE -1 END)) > 0
                THEN '1' ELSE '0' END), '') AS simhash
  FROM tok
),
blocked AS (
  SELECT doc_id, simhash, 'L' || substr(simhash, 1, 16) AS block FROM sig
  UNION ALL
  SELECT doc_id, simhash, 'R' || substr(simhash, 17, 16) AS block FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocked a JOIN blocked b ON a.block = b.block
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(dist AS BIGINT) AS distance FROM (
  SELECT id_a, id_b,
         list_sum(list_transform(range(1, 33), i ->
           CASE WHEN substr(sh_a, CAST(i AS INT), 1) <> substr(sh_b, CAST(i AS INT), 1)
                THEN 1 ELSE 0 END)) AS dist
  FROM cand
) WHERE dist <= 3
"""
    # int8 quantization plane: scale = max|x|/127 (exact float->double ops),
    # code = floor(x/scale + 0.5) — pure floor arithmetic, identical in any
    # engine (round() would diverge on HALF_UP vs banker's at exact halves)
    _quant = """
t AS (
  SELECT vec_id, embedding AS ve,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS amax
  FROM embeddings
),
qz AS (
  SELECT vec_id,
         CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
         list_transform(ve, x -> CAST(floor(
             CAST(x AS DOUBLE)
             / (CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END)
             + 0.5) AS BIGINT)) AS codes
  FROM t
)"""
    o["embedding_quantize"] = f"""
WITH {_quant}
SELECT vec_id, round(scale, 6) AS scale6, CAST(u.i - 1 AS INT) AS pos,
       CAST(codes[CAST(u.i AS INT)] AS INT) AS code
FROM qz, UNNEST(range(1, 65)) AS u(i)
"""
    o["ann_int8"] = f"""
WITH {_quant},
q AS (SELECT * FROM qz WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> c.codes[CAST(i AS INT)] * q.codes[CAST(i AS INT)]))
              AS DOUBLE) * c.scale * q.scale AS score
  FROM qz c CROSS JOIN q WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    plane = ("CASE WHEN strpos('01234567', substr(md5('p' || CAST(p AS VARCHAR) "
             "|| ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) > 0 "
             "THEN 1.0 ELSE -1.0 END")
    o["ann_lsh"] = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
n AS (
  SELECT vec_id, ve,
         sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm,
         array_to_string(list_transform(range(0, 6), p ->
           CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  ve[CAST(i AS INT)] * {plane})) > 0
                THEN '1' ELSE '0' END), '') AS bucket
  FROM v
),
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q.ve[CAST(i AS INT)])) / (c.nrm * q.nrm) AS cos
  FROM n c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    o["dedup_embedding"] = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
  FROM embeddings
),
n AS (
  SELECT vec_id, ve,
         sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm,
         array_to_string(list_transform(range(0, 8), p ->
           CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  ve[CAST(i AS INT)] * {plane})) > 0
                THEN '1' ELSE '0' END), '') AS bucket
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM n a JOIN n b ON a.bucket = b.bucket
WHERE a.vec_id < b.vec_id
  AND list_sum(list_transform(range(1, 65),
        i -> a.ve[CAST(i AS INT)] * b.ve[CAST(i AS INT)])) / (a.nrm * b.nrm) >= 0.999
"""
    _vecs = """
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
n AS (
  SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
  FROM v
)
"""
    o["ann_brute_force"] = f"""
WITH {_vecs},
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q.ve[CAST(i AS INT)])) / (c.nrm * q.nrm) AS cos
  FROM n c CROSS JOIN q WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    # hard-negative mining: the ann_brute_force shape with a cross-label
    # filter; NULL labels excluded from both sides (unknown class can't
    # be asserted negative); same (cos DESC, neighbor_id) tie-break
    o["hard_negatives"] = f"""
WITH {_vecs},
lab AS (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL),
c AS (SELECT n.vec_id, n.ve, n.nrm, l.label FROM n JOIN lab l USING (vec_id)),
q AS (SELECT * FROM c WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q.ve[CAST(i AS INT)])) / (c.nrm * q.nrm) AS cos
  FROM c CROSS JOIN q WHERE c.label <> q.label
)
SELECT query_id, neighbor_id, neighbor_label, rank FROM (
  SELECT query_id, neighbor_id, neighbor_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    # k-NN majority vote: brute-force top-10 (the ann_brute_force CTE) +
    # label votes; vote-count ties break toward the smaller label
    o["knn_classify"] = f"""
WITH {_vecs},
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q.ve[CAST(i AS INT)])) / (c.nrm * q.nrm) AS cos
  FROM n c CROSS JOIN q WHERE c.vec_id <> q.vec_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 10
),
votes AS (
  SELECT t.query_id, e.label, count(*) AS votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY t.query_id, e.label
)
SELECT query_id, label, votes FROM (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS rn
  FROM votes) WHERE rn = 1
"""

    o["ann_ivf"] = f"""
WITH {_vecs},
cent AS (SELECT * FROM n WHERE vec_id < 16),
assign_aff AS (
  SELECT a.vec_id AS c_id, k.vec_id AS k_id,
         list_sum(list_transform(range(1, 65),
           i -> a.ve[CAST(i AS INT)] * k.ve[CAST(i AS INT)])) / (a.nrm * k.nrm) AS aff
  FROM n a CROSS JOIN cent k
),
assigned AS (
  SELECT c_id, k_id AS centroid FROM (
    SELECT c_id, k_id,
           row_number() OVER (PARTITION BY c_id ORDER BY aff DESC, k_id) AS rn
    FROM assign_aff) WHERE rn = 1
),
q AS (SELECT * FROM n WHERE vec_id < 10),
probe_aff AS (
  SELECT q.vec_id AS q_id, k.vec_id AS k_id,
         list_sum(list_transform(range(1, 65),
           i -> q.ve[CAST(i AS INT)] * k.ve[CAST(i AS INT)])) / (q.nrm * k.nrm) AS aff
  FROM q CROSS JOIN cent k
),
probes AS (
  SELECT q_id, k_id AS centroid FROM (
    SELECT q_id, k_id,
           row_number() OVER (PARTITION BY q_id ORDER BY aff DESC, k_id) AS rn
    FROM probe_aff) WHERE rn <= 4
),
scored AS (
  SELECT DISTINCT p.q_id AS query_id, a.c_id AS neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> c.ve[CAST(i AS INT)] * q.ve[CAST(i AS INT)])) / (c.nrm * q.nrm) AS cos
  FROM probes p
  JOIN assigned a ON a.centroid = p.centroid
  JOIN n c ON c.vec_id = a.c_id
  JOIN n q ON q.vec_id = p.q_id
  WHERE a.c_id <> p.q_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""
    md = "md5(text)"
    o["multimodal_decode"] = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       {md} AS digest,
       CAST({_hex4(md, 1)} % 1920 + 1 AS INT) AS width,
       CAST({_hex4(md, 5)} % 1080 + 1 AS INT) AS height,
       CAST({_NIB.format(c=f"substr({md}, 9, 1)")} % 4 + 1 AS INT) AS channels
FROM documents
"""
    # the datasource read must land on the exact same final state the
    # library reader produces for the same table
    o["datasource_read"] = _COW_FINAL

    # char-distribution entropy: exploded groupBy form of the engine's
    # in-row run-length fold; per-char terms round to 6 decimals and sum
    # as decimal(18,6), so both fold orders produce the identical double
    o["char_entropy"] = """
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
ch AS (
  SELECT doc_id, unnest(string_split(norm, '')) AS c, length(norm) AS n
  FROM t WHERE length(norm) > 0
),
cc AS (
  SELECT doc_id, c, any_value(n) AS n, count(*) AS cnt
  FROM ch GROUP BY doc_id, c
),
s AS (
  SELECT doc_id,
         CAST(-sum(CAST(round((cnt * 1.0 / n) * log2(cnt * 1.0 / n), 6)
                        AS DECIMAL(18,6))) AS DOUBLE) AS entropy
  FROM cc GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN length(t.norm) = 0 THEN 0.0 ELSE s.entropy END AS entropy
FROM t LEFT JOIN s USING (doc_id)
"""
    # temperature mixing at alpha=0.5: thr = isqrt(65536^2 * n_min / n),
    # exact in integer arithmetic (sqrt of an exact integer < 2^53 is
    # correctly rounded, so floor(sqrt(..)) == isqrt(..))
    _okey = "md5(CAST(doc_id AS VARCHAR))"
    o["temperature_mix"] = f"""
WITH c AS (SELECT lang AS s, count(*) AS n
           FROM documents GROUP BY lang),
m AS (SELECT min(n) AS n_min FROM c),
t AS (SELECT s, CAST(floor(sqrt(CAST((4294967296 * n_min) // n AS DOUBLE)))
                AS BIGINT) AS thr FROM c, m)
SELECT d.doc_id, d.lang
FROM documents d JOIN t ON d.lang = t.s
WHERE ({_hex4(_okey, 1)}) < t.thr
"""
    # equal-width histogram: one fixed double-op order shared with the
    # engine — (x - lo) * bins / (hi - lo), width = (hi - lo) / 16
    o["length_histogram"] = """
WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
                   CAST(max(n_chars) AS DOUBLE) AS hi FROM documents),
b AS (SELECT CAST(least(floor((CAST(n_chars AS DOUBLE) - mm.lo) * 16.0
                              / (mm.hi - mm.lo)), 15) AS INT) AS bucket
      FROM documents, mm)
SELECT bucket,
       round(mm.lo + bucket * ((mm.hi - mm.lo) / 16), 6) AS lo,
       round(mm.lo + (bucket + 1) * ((mm.hi - mm.lo) / 16), 6) AS hi,
       count(*) AS n
FROM b, mm GROUP BY bucket, mm.lo, mm.hi
"""
    # multimodal feature extraction: component j of the deterministic
    # fake embedder is (int(md5(md5(payload) || ':' || j)[:4], 16) % 2001
    # - 1000) / 1000.0 — pure integer-then-divide, engine-portable
    _fh = "md5(md5(text) || ':' || CAST(j AS VARCHAR))"
    o["multimodal_features"] = f"""
SELECT doc_id, CAST(j AS INT) AS j,
       round((({_hex4(_fh, 1)}) % 2001 - 1000) / 1000.0, 6) AS feat
FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
"""
    # cluster-balanced sampling: same nearest-centroid assignment fragment
    # as the semantic_dedup oracle (left-to-right list_sum fold == the
    # engine's aggregate fold), then a per-cluster md5-order quota
    o["cluster_balanced_sample"] = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
n AS (
  SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
  FROM v
),
cent AS (SELECT * FROM n WHERE vec_id < 16),
aff AS (
  SELECT a.vec_id AS c_id, k.vec_id AS k_id,
         list_sum(list_transform(range(1, 65),
           i -> a.ve[CAST(i AS INT)] * k.ve[CAST(i AS INT)]))
         / (a.nrm * k.nrm) AS aff
  FROM n a CROSS JOIN cent k
),
asg AS (
  SELECT c_id, k_id AS centroid FROM (
    SELECT c_id, k_id,
           row_number() OVER (PARTITION BY c_id
                              ORDER BY aff DESC, k_id) AS rn
    FROM aff) WHERE rn = 1
)
SELECT c_id AS vec_id, centroid FROM (
  SELECT c_id, centroid,
         row_number() OVER (PARTITION BY centroid
                            ORDER BY md5(CAST(c_id AS VARCHAR)), c_id) AS rn
  FROM asg) WHERE rn <= 20
"""

    # DSIR importance resampling: the oracle recomputes the hashed
    # unigram+bigram feature buckets (md5-derived, the portable-hash
    # plane), both multinomials with add-one smoothing over 4096 buckets,
    # the per-bucket rounded log-ratio, and the DECIMAL(18,6) per-doc sum
    # — the exact unigram_logprob parity recipe.
    o["dsir_select"] = f"""
WITH tok AS (
  SELECT doc_id, source,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         list_concat(t,
           CASE WHEN len(t) - 1 >= 1
                THEN list_transform(range(1, CAST(len(t) AS BIGINT)),
                                    i -> array_to_string(t[i:i+1], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM tok
),
bx AS (
  SELECT doc_id, source, ({_hex4('md5(gram)', 1)} % 4096) AS b
  FROM (SELECT doc_id, source, unnest(g) AS gram FROM grams)
),
cc AS (SELECT b, count(*) AS c FROM bx GROUP BY b),
tc AS (SELECT b, count(*) AS c FROM bx WHERE source = 'src0' GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM bx WHERE source = 'src0') AS tt,
               (SELECT count(*) FROM bx) AS ct),
lr AS (
  SELECT cc.b,
         round(ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 4096.0))
               - ln((cc.c + 1.0) / (tot.ct + 4096.0)), 6) AS lr
  FROM cc LEFT JOIN tc USING (b), tot
)
SELECT doc_id, count(*) AS n_grams,
       CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS log_weight
FROM bx JOIN lr USING (b)
GROUP BY doc_id
ORDER BY log_weight DESC, doc_id LIMIT 200
"""

    # Cross-corpus overlap: exact pairwise Jaccard of the per-source
    # distinct 5-gram shingle SETS (same normalization as the minhash
    # oracles), including zero-overlap pairs.
    _corpus_sh0 = r"""
norm AS (
  SELECT source AS g,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
sh0 AS (
  SELECT g, unnest(CASE WHEN length(t) >= 5
       THEN list_distinct(list_transform(range(1, length(t) - 3),
                                         i -> substr(t, CAST(i AS INT), 5)))
       ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM norm
)"""
    o["corpus_overlap"] = f"""
WITH {_corpus_sh0},
sh AS (SELECT DISTINCT g, sh FROM sh0),
sizes AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
inter AS (SELECT x.g AS ga, y.g AS gb, count(*) AS i
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.g < y.g GROUP BY 1, 2)
SELECT a.g AS group_a, b.g AS group_b,
       a.n AS shingles_a, b.n AS shingles_b,
       coalesce(i.i, 0) AS intersection,
       CAST(coalesce(i.i, 0) AS DOUBLE)
         / (a.n + b.n - coalesce(i.i, 0)) AS jaccard
FROM sizes a JOIN sizes b ON a.g < b.g
LEFT JOIN inter i ON i.ga = a.g AND i.gb = b.g
"""

    # MinHash-sketch corpus overlap: the oracle recomputes the 64
    # per-group md5 minima (the engine-portable hash plane shared with
    # the dedup_minhash_lsh oracle) and the component-agreement fraction.
    o["corpus_overlap_minhash"] = f"""
WITH {_corpus_sh0},
mins AS (
  SELECT g, h, min(md5('h' || CAST(h AS VARCHAR) || ':' || sh)) AS m
  FROM sh0 CROSS JOIN (SELECT unnest(range(0, 64)) AS h) hs GROUP BY g, h
)
SELECT a.g AS group_a, b.g AS group_b,
       avg(CASE WHEN a.m = b.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
FROM mins a JOIN mins b ON a.h = b.h AND a.g < b.g
GROUP BY 1, 2
"""

    # Deterministic epoch shuffle: order key md5('seed:epoch:id'), shard =
    # top 16 bits (nibble arithmetic) mod 16, position = per-shard rank.
    _okey = "md5('7:1:' || CAST(doc_id AS VARCHAR))"
    o["epoch_shuffle"] = f"""
WITH k AS (SELECT doc_id, {_okey} AS okey FROM documents),
s AS (SELECT doc_id, okey, ({_hex4('okey', 1)}) % 16 AS shard FROM k)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard
                          ORDER BY okey, doc_id) AS position
FROM s
"""

    # The incrementally-maintained IVF index (build evens → append odds →
    # delete+re-append a slice → compact) must be content-identical to a
    # full rebuild over the whole corpus, so its oracle IS ann_ivf's:
    # same corpus, same first-16 centroid derivation, same n_probe/k and
    # tie-breaks. Any drift in the maintenance path (lost rows, double
    # rows, stale deletes) breaks the hash match.
    o["ann_ivf_incremental"] = o["ann_ivf"]
    # ...and the ingest-maintained index has the same content-identity
    # contract, so the same oracle: any maintainer drift (missed batch,
    # doubled replay, stale update version) breaks the hash match.
    o["ann_index_maintained"] = o["ann_ivf"]
    # The maintained corpus sketch is a min-monoid fold: batch-split and
    # replay invariant, so its overlap is BIT-IDENTICAL to the one-pass
    # sketch — the corpus_overlap_minhash oracle verbatim.
    o["corpus_overlap_incremental"] = o["corpus_overlap_minhash"]

    # maintained distinct-shingle estimate ≡ the batch estimator over
    # the union the sketches folded (same shingle CTE as the overlap
    # oracles, same h<i> seeds, same estimator arithmetic)
    _sds_mins = ", ".join(
        f"min(md5('h{i}:' || sh)) AS h{i}" for i in range(64))
    _sds_sum = " + ".join(
        f"((CAST(concat('0x', substr(h{i}, 1, 15)) AS BIGINT) + 1)"
        f" / 1152921504606846977.0)" for i in range(64))
    o["sketch_distinct_incremental"] = f"""
WITH {_corpus_sh0},
sk AS (SELECT g, {_sds_mins} FROM sh0 GROUP BY g)
SELECT g AS source,
       round(CAST(64 AS DOUBLE) / ({_sds_sum}) - 1.0, 4) AS est_distinct
FROM sk
"""

    # bigram-LM perplexity: vocab = top-64 unigrams (desc count, asc term
    # — deterministic), OOV collapses to <unk>, lp(w1,w2) =
    # ln((c(w1,w2)+1)/(c(w1)+65)) rounded to 6 at the MODEL; per-doc sum
    # in DECIMAL(18,6) — the exact unigram_logprob parity recipe one
    # model-order up. ppl applies exp to an identical double in both
    # engines, rounded to 6.
    _LM_CTE = f"""
WITH {_TOK_CTE},
ex AS (SELECT unnest(t) AS term FROM tok),
vc AS (SELECT term, count(*) AS c FROM ex GROUP BY term
       ORDER BY c DESC, term LIMIT 64),
vl AS (SELECT list(term) AS v FROM vc),
mt AS (SELECT doc_id,
              list_transform(t, x -> CASE WHEN list_contains(vl.v, x)
                                          THEN x ELSE '<unk>' END) AS t
       FROM tok, vl),
bg AS (SELECT doc_id,
              unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, CAST(len(t) AS BIGINT)),
                          i -> struct_pack(w1 := t[CAST(i AS INT)],
                                           w2 := t[CAST(i + 1 AS INT)]))
                     ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[])
                     END) AS p
       FROM mt),
pairs AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
pc AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cb) AS cw FROM pc GROUP BY w1),
lp AS (SELECT pc.w1, pc.w2,
              round(ln((pc.cb + 1.0) / (ctx.cw + 65.0)), 6) AS lp
       FROM pc JOIN ctx USING (w1)),
scored AS (SELECT pr.doc_id, l.lp FROM pairs pr JOIN lp l USING (w1, w2)),
agg AS (SELECT doc_id, count(*) AS n_bigrams,
               CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS logprob
        FROM scored GROUP BY doc_id),
ppl AS (SELECT doc_id, n_bigrams, logprob,
               round(exp(-logprob / n_bigrams), 6) AS ppl
        FROM agg)"""

    o["lm_perplexity"] = _LM_CTE + """
SELECT doc_id, n_bigrams, logprob, ppl FROM ppl
"""

    # parameterized LM scoring block: per-doc (doc_id, n_bigrams,
    # logprob) for ALL documents under a bigram LM trained on the subset
    # WHERE train_where (doc_id predicate), WITH the unseen-context /
    # OOV-context fallback chain — mirrors functions/lm.bigram_perplexity
    # scoring under a supplied model (coalesce(lp, unseen_lp, oov_lp))
    def _lm_score_sql(pfx: str, train_where: str) -> str:
        import math

        oov = round(math.log(1.0 / 65.0), 6)
        return f"""
{pfx}vc AS (SELECT term, count(*) AS c
       FROM (SELECT unnest(t) AS term FROM tok WHERE {train_where})
       GROUP BY term ORDER BY c DESC, term LIMIT 64),
{pfx}vl AS (SELECT list(term) AS v FROM {pfx}vc),
{pfx}mt AS (SELECT doc_id,
              list_transform(t, x -> CASE WHEN list_contains({pfx}vl.v, x)
                                          THEN x ELSE '<unk>' END) AS t
       FROM tok, {pfx}vl),
{pfx}bg AS (SELECT doc_id,
              unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, CAST(len(t) AS BIGINT)),
                          i -> struct_pack(w1 := t[CAST(i AS INT)],
                                           w2 := t[CAST(i + 1 AS INT)]))
                     ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[])
                     END) AS p
       FROM {pfx}mt),
{pfx}pairs AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM {pfx}bg),
{pfx}tpc AS (SELECT w1, w2, count(*) AS cb FROM {pfx}pairs
             WHERE {train_where} GROUP BY w1, w2),
{pfx}ctx AS (SELECT w1, sum(cb) AS cw FROM {pfx}tpc GROUP BY w1),
{pfx}lp AS (SELECT w1, w2,
              round(ln((cb + 1.0) / (cw + 65.0)), 6) AS lp
       FROM {pfx}tpc JOIN {pfx}ctx USING (w1)),
{pfx}uns AS (SELECT w1, round(ln(1.0 / (cw + 65.0)), 6) AS ulp
       FROM {pfx}ctx),
{pfx}sc AS (SELECT pr.doc_id,
              coalesce(l.lp, u.ulp, {oov}) AS lp
       FROM {pfx}pairs pr
       LEFT JOIN {pfx}lp l USING (w1, w2)
       LEFT JOIN {pfx}uns u USING (w1)),
{pfx}agg AS (SELECT doc_id, count(*) AS n_bigrams,
               CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS logprob
        FROM {pfx}sc GROUP BY doc_id)"""

    # RHO-style excess-perplexity selection: per-token NLL under the
    # self-LM minus under the reference LM (trained on doc_id % 10 = 0),
    # top-200 by excess desc / id asc — every rounding at the same grain
    # as the Spark side (model, then doc)
    o["excess_ppl_select"] = f"""
WITH {_TOK_CTE},
{_lm_score_sql('r_', 'doc_id % 10 = 0')},
{_lm_score_sql('s_', 'TRUE')},
j AS (SELECT a.doc_id, a.n_bigrams,
             round(-a.logprob / a.n_bigrams, 6) AS nll_self,
             round(-b.logprob / b.n_bigrams, 6) AS nll_ref
      FROM s_agg a JOIN r_agg b USING (doc_id))
SELECT doc_id, n_bigrams, nll_self, nll_ref,
       round(nll_self - nll_ref, 6) AS excess
FROM j
ORDER BY excess DESC, doc_id
LIMIT 200
"""
    # DoReMi-lite: the shared LM CTE's per-doc logprobs folded per source
    # with the same DECIMAL/round-6 discipline as the Spark side
    # (functions/pipeline.domain_mixture_weights, eta=1.0)
    o["domain_mixture"] = _LM_CTE + """
, per AS (
  SELECT d.source AS source, count(*) AS n_docs,
         CAST(SUM(a.n_bigrams) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(a.logprob AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS slp
  FROM agg a JOIN documents d USING (doc_id)
  GROUP BY d.source),
pn AS (SELECT source, n_docs, n_tokens,
              round(-(CAST(slp AS DOUBLE)) / n_tokens, 6) AS nll
       FROM per),
tot AS (SELECT min(nll) AS mn, CAST(SUM(n_tokens) AS BIGINT) AS tt FROM pn),
raw AS (
  SELECT pn.source, pn.n_docs, pn.n_tokens, pn.nll,
         round(round(pn.n_tokens * 1.0 / tot.tt, 6)
               * round(exp(1.0 * round(pn.nll - tot.mn, 6)), 6), 6) AS r
  FROM pn, tot),
dn AS (SELECT CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS d FROM raw)
SELECT raw.source, raw.n_docs, raw.n_tokens, raw.nll,
       round(raw.r / dn.d, 6) AS weight
FROM raw, dn
"""
    # head/middle/tail: bucket = (rank * 3) DIV N over the exact global
    # (ppl, doc_id) order — pure integer arithmetic on top of the shared
    # LM CTE, so the distributed-rank path must agree bit-for-bit with
    # this single-window reference
    o["ppl_buckets"] = _LM_CTE + """
, rk AS (SELECT doc_id, ppl,
                row_number() OVER (ORDER BY ppl, doc_id) - 1 AS r,
                count(*) OVER () AS n
         FROM ppl)
SELECT doc_id, ppl, CAST((r * 3) // n AS BIGINT) AS bucket FROM rk
"""

    # near-dup decontamination: the self-dedup family's signature/band
    # machinery with a CROSS-side candidate join (corpus % 20 != 0 vs
    # eval % 20 = 0) and exact shingle-Jaccard verification; the
    # unreferenced self-join cand CTE in the shared fragment is never
    # evaluated
    o["decontaminate_near"] = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_MINHASH_SIG},
xc AS (
  SELECT DISTINCT a.doc_id AS cid, b.doc_id AS eid
  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh
  WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
),
bad AS (
  SELECT DISTINCT x.cid FROM xc x
  JOIN sh sa ON sa.doc_id = x.cid
  JOIN sh sb ON sb.doc_id = x.eid
  WHERE len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0
    AND len(list_intersect(sa.shingles, sb.shingles)) * 1.0
        / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
        >= 0.8
)
SELECT doc_id, text FROM documents
WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT cid FROM bad)
"""

    # corpus data card: one (group, text-hash) census folded per group;
    # all-integer except mean_tokens (one double division + round — the
    # same op in both engines)
    o["corpus_report"] = r"""
WITH n AS (
  SELECT source AS grp,
         lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS t
  FROM documents
),
m AS (
  SELECT grp, md5(t) AS h,
         CASE WHEN length(t) = 0 THEN 0
              ELSE len(string_split(t, ' ')) END AS nt,
         length(t) = 0 AS e
  FROM n
),
c AS (SELECT grp, h, count(*) AS c, min(nt) AS nt, max(e) AS e
      FROM m GROUP BY grp, h)
SELECT grp, CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN e THEN c ELSE 0 END) AS BIGINT) AS n_empty,
       count(*) AS distinct_texts,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(sum(c * nt) AS BIGINT) AS total_tokens,
       round(CAST(sum(c * nt) AS BIGINT) / CAST(sum(c) AS BIGINT), 6)
           AS mean_tokens
FROM c GROUP BY grp
"""

    # exact-substring dedup: content-defined chunk boundaries (md5 of the
    # trailing 8 chars ≡ 0 mod 16 — a purely local decision, so copies
    # chunk identically at any offset), keep-first by (doc_id, idx),
    # ordered reassembly. All-integer/string arithmetic — engine-exact.
    o["substring_dedup"] = f"""
WITH norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
),
bp AS (
  SELECT doc_id, t, length(t) AS n,
         CASE WHEN length(t) - 1 >= 8 THEN
           list_filter(range(8, CAST(length(t) AS BIGINT)),
             i -> ({_hex4("md5(substr(t, CAST(i - 7 AS INT), 8))", 1)})
                  % 16 = 0)
         ELSE CAST([] AS BIGINT[]) END AS bpos
  FROM norm
),
ch AS (
  SELECT doc_id, t,
         list_concat(list_concat([CAST(1 AS BIGINT)],
                                 list_transform(bpos, i -> i + 1)),
                     [CAST(n + 1 AS BIGINT)]) AS bounds
  FROM bp
),
ck AS (
  SELECT doc_id,
         list_transform(range(1, CAST(len(bounds) AS BIGINT)),
           k -> substr(t, CAST(bounds[CAST(k AS INT)] AS INT),
                       CAST(bounds[CAST(k AS INT) + 1]
                            - bounds[CAST(k AS INT)] AS INT))) AS chunks
  FROM ch
),
ex AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx,
         chunks[CAST(i + 1 AS INT)] AS chunk
  FROM ck, unnest(range(0, CAST(len(chunks) AS BIGINT))) AS u(i)
  WHERE length(chunks[CAST(i + 1 AS INT)]) > 0
),
mk AS (
  SELECT doc_id, idx, chunk,
         (length(chunk) >= 20)
         AND (count(DISTINCT doc_id) OVER (PARTITION BY chunk) >= 2)
         AND (row_number() OVER (PARTITION BY chunk
                                 ORDER BY doc_id, idx) > 1) AS dup
  FROM ex
)
SELECT doc_id,
       coalesce(string_agg(chunk, '' ORDER BY idx)
                FILTER (WHERE NOT dup), '') AS text,
       count(*) FILTER (WHERE NOT dup) AS n_chunks_kept,
       count(*) AS n_chunks_total
FROM mk GROUP BY doc_id
HAVING count(*) FILTER (WHERE NOT dup) > 0
"""

    # distribution shift: add-one-smoothed bucket probabilities over the
    # portable md5 hash plane; log-ratio rounded to 6 at the bucket, the
    # PSI/KL terms multiply the ROUNDED ratio and round to 9 — identical
    # parenthesization to functions/drift.shift_from_counts, so every
    # double operation is the same IEEE op in both engines.
    def _drift_sql(cur_where: str) -> str:
        return f"""
WITH tokr AS (
  SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents WHERE doc_id % 2 = 0
),
tokc AS (
  SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents {cur_where}
),
exr AS (SELECT unnest(list_transform(t,
            x -> CAST({_hex4('md5(x)', 1)} % 64 AS INT))) AS b FROM tokr),
exc AS (SELECT unnest(list_transform(t,
            x -> CAST({_hex4('md5(x)', 1)} % 64 AS INT))) AS b FROM tokc),
cr AS (SELECT b, count(*) AS c FROM exr GROUP BY b),
cc AS (SELECT b, count(*) AS c FROM exc GROUP BY b),
nr AS (SELECT count(*) AS n FROM exr),
nc AS (SELECT count(*) AS n FROM exc),
spine AS (SELECT CAST(b AS INT) AS bucket FROM range(0, 64) t(b)),
j AS (SELECT bucket, coalesce(cr.c, 0) AS ref_cnt,
             coalesce(cc.c, 0) AS cur_cnt
      FROM spine LEFT JOIN cr ON bucket = cr.b
                 LEFT JOIN cc ON bucket = cc.b),
k AS (SELECT bucket, ref_cnt, cur_cnt,
             (ref_cnt + 1.0) / (nr.n + 64.0) AS pr,
             (cur_cnt + 1.0) / (nc.n + 64.0) AS pc
      FROM j, nr, nc),
l AS (SELECT bucket, ref_cnt, cur_cnt, pr, pc,
             round(ln(pc / pr), 6) AS log_ratio FROM k)
SELECT bucket, ref_cnt, cur_cnt, log_ratio,
       round((pc - pr) * log_ratio, 9) AS psi,
       round(pc * log_ratio, 9) AS kl
FROM l
"""

    o["distribution_shift"] = _drift_sql("WHERE doc_id % 2 = 1")
    # The maintained histogram is a SUM monoid kept exact under re-upserts
    # by CDC subtract-then-add; the fixture's final table content equals
    # the WHOLE raw documents table, so the maintained shift() (vs the
    # even-doc reference) must hash-match the batch statistic with the
    # full table as the current side.
    o["drift_incremental"] = _drift_sql("")

    # trainable hashed-LR quality classifier: the oracle REPLAYS the
    # 3-step full-batch gradient descent exactly — per-iteration CTEs
    # recompute logits against the previous weight table, gradients as
    # DECIMAL(28,12) sums of 12-decimal-rounded contributions (order-
    # free), weights re-rounded to 12; the logit and sigmoid round to 6
    # in both engines, leaving ~10 orders of magnitude between rounding
    # grain and float error. Bucket = int(md5(token)[:4],16) % 64 — the
    # same portable hash plane as DSIR/hash_sample.
    o["quality_classifier"] = _lr_oracle_sql(
        dim=64, iters=3, lr=1.0,
        label_expr="CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END")
    return o


# ---------------------------------------------------------------- entry()
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: COW lifecycle (bulk_insert → upsert → delete) on sf0.001
    orders, then revenue-by-priority SQL over the snapshot view."""
    _session(spark)
    sf_dir = "/root/testdata/sf0.001"
    fx = _fixture(spark, sf_dir, "orders_cow")
    fx["tbl"].register_view("flagship_orders")
    return spark.sql(f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {_sum_d('o_totalprice', 'total_revenue')}
        FROM flagship_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)
