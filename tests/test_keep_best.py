"""Keep-best dedup as maintained state (streaming/keep_best.py): a
better-scoring duplicate REPLACES the stored winner in the table."""

import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import functions as HF
from hoodie_spark.streaming import KeepBestDeduper

SF_DIR = "/root/testdata/sf0.001"


def _table(spark, path):
    return HoodieTable.create(spark, path, "docs_kb", ["doc_id"],
                              None, partition_expr="'p'")


def _kb(spark, tbl, path, **kw):
    return KeepBestDeduper(tbl, os.path.join(path, "_kb"), "doc_id",
                           "text", "score", **kw)


def _docs(spark, n=150):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text",
                    F.length("text").cast("long").alias("score"))
            .filter(F.col("doc_id") < n))


def _snap(tbl):
    return {r["doc_id"]: r["score"] for r in
            tbl.snapshot().select("doc_id", "score").collect()}


def test_better_copy_replaces_stored_winner(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    r1 = kb.process_batch(spark.createDataFrame(
        [(1, "identical content body here", 10)],
        "doc_id long, text string, score long"))
    assert r1 == {"upserted": 1, "deleted": 0, "dropped": 0}
    # a worse copy is dropped, the table unchanged
    r2 = kb.process_batch(spark.createDataFrame(
        [(2, "identical content body here", 5)],
        "doc_id long, text string, score long"))
    assert r2 == {"upserted": 0, "deleted": 0, "dropped": 1}
    assert _snap(tbl) == {1: 10}
    # a better copy replaces: old winner DELETED, new one inserted
    r3 = kb.process_batch(spark.createDataFrame(
        [(3, "identical content body here", 20)],
        "doc_id long, text string, score long"))
    assert r3 == {"upserted": 1, "deleted": 1, "dropped": 0}
    assert _snap(tbl) == {3: 20}
    # equal score, larger id: stays dropped (min-id tie-break)
    r4 = kb.process_batch(spark.createDataFrame(
        [(4, "identical content body here", 20)],
        "doc_id long, text string, score long"))
    assert r4 == {"upserted": 0, "deleted": 0, "dropped": 1}
    assert _snap(tbl) == {3: 20}


def test_streaming_equals_batch_keep_best(spark, tmp_table_path):
    """Three batches (corpus, better copies, worse copies) must leave
    the table bit-identical to one dedup_keep_best pass over the union
    — exact copies add no new connectivity."""
    docs = _docs(spark)
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    batches = [
        docs,
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text",
                    (F.col("score") + 10).alias("score")),
        docs.select((F.col("doc_id") + 20000).alias("doc_id"), "text",
                    (F.col("score") - 5).alias("score")),
    ]
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    for b in batches:
        kb.process_batch(b)
    want = {r["doc_id"]: r["score"] for r in
            HF.dedup_keep_best(union, "doc_id", "text", "score")
            .select("doc_id", "score").collect()}
    assert _snap(tbl) == want


def test_replay_is_idempotent(spark, tmp_table_path):
    docs = _docs(spark, n=60)
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    kb.process_batch(docs)
    before = _snap(tbl)
    r = kb.process_batch(docs)  # crash replay of the same batch
    assert r["upserted"] == 0 and r["deleted"] == 0
    assert _snap(tbl) == before


def test_order_free_winner(spark, tmp_table_path):
    """Max-score replacement is arrival-order-free: best-first and
    worst-first arrivals converge to the same table."""
    rows = [(i, "the shared duplicate passage text", 100 - i)
            for i in range(1, 4)]
    for order, sub in ((rows, "a"), (rows[::-1], "b")):
        tbl = _table(spark, os.path.join(tmp_table_path, sub))
        kb = _kb(spark, tbl, os.path.join(tmp_table_path, sub))
        for row in order:
            kb.process_batch(spark.createDataFrame(
                [row], "doc_id long, text string, score long"))
        assert _snap(tbl) == {1: 99}, f"{sub}: arrival order leaked"


def test_compact_state_preserves_resolution(spark, tmp_table_path):
    docs = _docs(spark, n=80)
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    kb.process_batch(docs)
    kb.process_batch(docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text",
        (F.col("score") + 10).alias("score")))
    before = _snap(tbl)
    winners_before = sorted(map(tuple, kb.winners().collect()))
    kb.compact_state()
    assert sorted(map(tuple, kb.winners().collect())) == winners_before
    # post-compact: a better copy still resolves against the folded state
    kb.process_batch(docs.select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text",
        (F.col("score") + 20).alias("score")))
    after = _snap(tbl)
    assert len(after) == len(before)
    assert set(after) == {k + 20000 for k in before}  # every winner replaced
    # restart reads the compacted pointers
    kb2 = _kb(spark, tbl, tmp_table_path)
    assert sorted(map(tuple, kb2.winners().collect())) != winners_before


def test_param_guards(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    kb.process_batch(_docs(spark, n=30))
    with pytest.raises(ValueError, match="threshold"):
        _kb(spark, tbl, tmp_table_path, threshold=0.5)
    with pytest.raises(ValueError, match="ids"):
        kb.process_batch(spark.createDataFrame(
            [("x", "text body", 1)],
            "doc_id string, text string, score long"))


def test_no_window_in_resolution_plan(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    out = kb._cluster(_docs(spark, n=50))[0]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_process_batch_releases_every_frame_it_persists(
        spark, tmp_table_path, monkeypatch):
    """Every frame process_batch persists is unpersisted before it
    returns (tracked per frame: duplicate_groups' local checkpoints also
    show up among the context's persistent RDDs)."""
    tbl = _table(spark, tmp_table_path)
    kb = _kb(spark, tbl, tmp_table_path)
    docs = _docs(spark, n=40)
    persisted = []
    frame_cls = type(docs)
    persist = frame_cls.persist

    def tracked(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", tracked)
    for k in range(2):
        kb.process_batch(docs.withColumn("doc_id",
                                         F.col("doc_id") + k * 10_000))
        assert persisted
        assert not [f for f in persisted if f.is_cached]
        persisted.clear()
