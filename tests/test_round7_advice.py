"""Round-7 advisor regression tests: sidecar load order after stats
compaction, stale-staging sweep in the DataSource writer, pq_codebooks
short-corpus guard, and Debezium all-null tombstone deletes."""

import os
import time

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark.config import WriteConfig

SF_DIR = "/root/testdata/sf0.001"


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


def test_pq_codebooks_short_corpus_raises(spark):
    """k codes need k corpus rows — a short book would IndexError deep in
    pq_codebooks_trained with no hint of the cause."""
    from hoodie_spark.functions.similarity import pq_codebooks

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(5))
    with pytest.raises(ValueError, match="only 5 rows"):
        pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)


def test_debezium_tombstone_delete_dropped(spark):
    """'d' events with before=null AND after=null (Kafka tombstone style)
    carry no key columns — they must be dropped, not emitted as all-null
    record keys into the downstream upsert."""
    from hoodie_spark.streaming.transform import DebeziumTransformer

    df = spark.createDataFrame(
        [("c", None, {"id": 1, "v": "a"}, 10),
         ("d", {"id": 1, "v": "a"}, None, 20),   # real delete: before image
         ("d", None, None, 30)],                  # tombstone: no images
        "op string, before struct<id:int,v:string>, "
        "after struct<id:int,v:string>, ts_ms long")
    out = DebeziumTransformer().apply(spark, df).collect()
    assert len(out) == 2
    assert all(r["id"] is not None for r in out)
    assert {(r["id"], r["Op"]) for r in out} == {(1, "c"), (1, "d")}


def test_pq_encode_null_and_ragged_vectors(spark):
    """Dirty corpora must encode to null codes, not crash the task (the
    Column expression this UDF replaced tolerated them)."""
    from hoodie_spark.functions.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    dirty = spark.createDataFrame(
        [(1, None), (2, [0.5] * 64), (3, [1.0] * 10)],
        "vec_id int, embedding array<double>")
    rows = {r["vec_id"]: r["codes"] for r in dirty.select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("codes"))
        .collect()}
    assert rows[1] is None and rows[3] is None
    assert rows[2] is not None and len(rows[2]) == 8


def test_ivfpq_probe_legacy_index_without_rnorm(spark, tmp_table_path):
    """Indexes persisted before the encode-time __rnorm column must still
    probe (norm recomputed from codes), like pq_topk's legacy branch."""
    from hoodie_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = S.pq_codebooks(emb, "vec_id", "embedding")
    cents = S.kmeans_centroids(emb, "vec_id", "embedding",
                               n_centroids=4, iters=1)
    S.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                        tmp_table_path)
    legacy_path = tmp_table_path + "_legacy"
    (spark.read.parquet(tmp_table_path).drop("__rnorm")
     .write.partitionBy("centroid").parquet(legacy_path))
    qs = emb.filter("vec_id < 5")
    new = {(r[0], r[1], r[2]) for r in S.ivfpq_topk_from_index(
        spark, tmp_table_path, cents, books, qs, "vec_id", "embedding",
        k=5, n_probe=2).collect()}
    old = {(r[0], r[1], r[2]) for r in S.ivfpq_topk_from_index(
        spark, legacy_path, cents, books, qs, "vec_id", "embedding",
        k=5, n_probe=2).collect()}
    assert new == old and len(new) == 25


def test_publish_orphan_tmp_swept_by_reclamation(spark, orders,
                                                 tmp_table_path):
    """A crash mid-put_atomic leaves .<hex>.tmp in the timeline dir;
    failed-write reclamation sweeps aged ones, keeps fresh ones."""
    from hoodie_spark.services.rollback import rollback_failed_writes

    tbl = HoodieTable.create(
        spark, tmp_table_path, "orphans", ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(50))
    d = tbl.timeline.dir
    stale = os.path.join(d, ".deadbeef.tmp")
    fresh = os.path.join(d, ".cafebabe.tmp")
    for f in (stale, fresh):
        with open(f, "wb") as fh:
            fh.write(b"x")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    rollback_failed_writes(tbl)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert tbl.snapshot().count() == 50  # listing still clean


def test_ivfpq_probe_string_ids(spark, tmp_table_path):
    """The probe builds its LUT/probe frames from the caller's id dtype —
    string ids must work end to end (the old hardcoded 'q_id long'
    schema raised TypeError)."""
    from hoodie_spark.functions import similarity as S

    emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .select(F.concat(F.lit("doc-"), F.lpad(
               F.col("vec_id").cast("string"), 4, "0")).alias("vec_id"),
               "embedding"))
    books = S.pq_codebooks(emb, "vec_id", "embedding")
    cents = emb.orderBy("vec_id").limit(4)
    S.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                        tmp_table_path)
    qs = emb.orderBy("vec_id").limit(3)
    out = S.ivfpq_topk_from_index(spark, tmp_table_path, cents, books,
                                  qs, "vec_id", "embedding",
                                  k=5, n_probe=2).collect()
    assert len(out) == 15
    assert all(isinstance(r["query_id"], str) and
               isinstance(r["neighbor_id"], str) for r in out)


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
