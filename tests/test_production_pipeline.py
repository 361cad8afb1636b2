"""Capstone integration: the full curation pipeline in ONE Ingestor —
quality gate on ingest, incremental dedup against table state, and two
maintained analytics states (drift histogram + corpus-overlap sketches)
riding the post-commit hook. Verifies each stage's effect AND that the
composition preserves every component's exactness contract."""

import os

from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, functions as HF
from hoodie_spark.streaming import (CorpusSketchMaintainer, DriftMonitor,
                                    IncrementalDeduper, Ingestor,
                                    LineCensusMaintainer,
                                    ReservoirMaintainer, SplitMaintainer)
from hoodie_spark.streaming.ingest import Source
from hoodie_spark.streaming.transform import QualityGateTransformer


class _Batches(Source):
    def __init__(self, dfs):
        self.dfs = dfs

    def fetch(self, s, ck):
        i = int(ck) if ck else 0
        if i >= len(self.dfs):
            return None, ck
        return self.dfs[i], str(i + 1)


def test_full_curation_pipeline(spark, tmp_table_path):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "source"))
    n_src = docs.count()

    # batch 1: first half; batch 2: second half + exact COPIES of batch 1
    # (new ids) + junk rows the gate must drop
    b1 = docs.filter("doc_id % 2 = 0")
    copies = b1.select((F.col("doc_id") + 10_000).alias("doc_id"),
                       "text", "source")
    junk = spark.createDataFrame(
        [(90_000 + i, "zz zz zz zz zz zz zz zz zz zz", "spam")
         for i in range(20)], "doc_id long, text string, source string")
    b2 = docs.filter("doc_id % 2 = 1").unionByName(copies) \
        .unionByName(junk)

    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "docs_prod", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "drift"),
                       "text", buckets=32)
    sk = CorpusSketchMaintainer(tbl, os.path.join(tmp_table_path, "sk"),
                                "source", "text", num_hashes=32)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "split"),
                         "doc_id", "text")
    rv = ReservoirMaintainer(tbl, os.path.join(tmp_table_path, "resv"),
                             "doc_id", k=50)
    lc = LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc"),
                              "doc_id", "text")
    ing = Ingestor(tbl, _Batches([b1, b2]),
                   transformers=[QualityGateTransformer(
                       "text", gopher=True,
                       gopher_overrides={"min_words": 5,
                                         "max_dup_span_frac": 0.5})],
                   deduper=dd, index_maintainers=[mon, sk, sm, rv, lc],
                   operation="insert")
    ing.run_continuous(2)

    snap = tbl.snapshot()
    ids = {r["doc_id"] for r in snap.select("doc_id").collect()}
    # the gate dropped every junk row before it cost a write
    assert not any(i >= 90_000 for i in ids)
    # the deduper dropped every exact copy (content identity, new ids)
    assert not any(10_000 <= i < 90_000 for i in ids)
    # survivors are a substantial subset of the real corpus (the corpus
    # itself contains near-duplicates at threshold=0.8 — dropping those
    # is the deduper doing its job, not loss)
    assert ids <= {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert len(ids) > n_src // 3

    # maintained drift state == fresh census of the final table
    assert mon.store.load()["counts"] == mon._census(snap.select("text"))
    # maintained sketches -> overlap identical to one-pass batch sketching
    got = sorted(map(tuple, sk.overlap().collect()))
    want = sorted(map(tuple, HF.corpus_overlap_minhash(
        snap.select("source", "text"), "source", "text",
        num_hashes=32).collect()))
    assert got == want
    # maintained split: every committed doc carries an assignment
    assert {r["doc_id"] for r in sm.assignments().collect()} == ids
    # maintained reservoir == batch bottom-k over the committed keys
    # (insert-only pipeline: union of commits == final snapshot)
    assert sorted(r["doc_id"] for r in rv.reservoir().collect()) == \
        sorted(r["doc_id"] for r in HF.priority_sample(
            snap.select("doc_id"), "doc_id", 50).collect())
    # maintained line census == one batch census over the final table
    got_lc = {r.lhash: r.n for r in lc.census().collect()}
    want_lc = {r.lhash: r.n for r in
               snap.select(F.explode(F.split("text", "\n")).alias("l"))
               .groupBy(F.md5("l").alias("lhash"))
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got_lc == want_lc

    # exactly-once: re-running the drained source changes nothing
    before = snap.count()
    ing2 = Ingestor(tbl, _Batches([b1, b2]), deduper=dd,
                    index_maintainers=[mon, sk], operation="insert")
    assert ing2.sync_once() is None  # checkpoint says drained
    assert tbl.snapshot().count() == before
