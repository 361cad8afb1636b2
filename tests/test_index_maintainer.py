"""ANN index as a maintained table service: IvfIndexMaintainer keeps a
persisted IVF/IVF-PQ index in step with a table across ingest, updates,
crash replays, deletes (CDC mode) and rollback — the serving-side
sibling of IncrementalDeduper's watermark + catch-up contract."""

import json
import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import functions as HF
from hoodie_spark.streaming import Ingestor, IvfIndexMaintainer
from hoodie_spark.streaming.ingest import Source

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("vec_id", "embedding").cache())


def _batches(emb):
    return [emb.filter(F.col("vec_id") % 3 == m) for m in range(3)]


class _ListSource(Source):
    def __init__(self, batches):
        self.batches = batches

    def fetch(self, spark, checkpoint):
        i = int(checkpoint) if checkpoint else 0
        if i >= len(self.batches):
            return None, checkpoint
        return self.batches[i], str(i + 1)


def _probe(spark, path, emb, cents, n_probe=4):
    return sorted(map(tuple, HF.ivf_topk_from_index(
        spark, path, cents, emb.filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=10, n_probe=n_probe)
        .select("query_id", "neighbor_id", "rank").collect()))


def _rebuild_probe(spark, tbl, emb, cents, where, n_probe=4):
    fresh = where
    HF.write_ivf_index(tbl.snapshot().select("vec_id", "embedding"),
                       cents, "vec_id", "embedding", fresh)
    return _probe(spark, fresh, emb, cents, n_probe)


def test_maintainer_tracks_ingest(spark, emb, tmp_table_path):
    """Three micro-batches through the Ingestor with a maintainer: after
    every sync the index watermark equals the table head, and the final
    index probes exactly like a fresh build from the table snapshot."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_ing",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding",
                           compact_every=2)
    ing = Ingestor(tbl, _ListSource(_batches(emb)), deduper=None,
                   index_maintainers=[m])
    ing.run_continuous(3)
    wm = json.loads(open(os.path.join(idx, "_watermark.json")).read())
    assert wm["instant"] == tbl.timeline.last_completed().timestamp
    assert spark.read.parquet(idx).count() == emb.count()
    assert _probe(spark, idx, emb, cents) == _rebuild_probe(
        spark, tbl, emb, cents, f"{tmp_table_path}/fresh")


def test_update_moves_vector_between_lists(spark, emb, tmp_table_path):
    """An upsert that replaces a vector must MOVE it (delete-then-append)
    — exactly one index row per id, in the new vector's list."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_upd",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding")
    tbl.bulk_insert(emb)
    m.catch_up()
    # replace vec 100 with (a perturbation of) vec 7's embedding — lands
    # near centroid 7 instead of wherever it was
    donor = emb.filter(F.col("vec_id") == 7) \
        .select(F.lit(100).cast("long").alias("vec_id"),
                F.transform("embedding", lambda x: x * 0.99)
                .alias("embedding"))
    old_c = [r.centroid for r in spark.read.parquet(idx)
             .filter(F.col("vec_id") == 100).select("centroid").collect()]
    tbl.upsert(donor)
    assert m.catch_up() == 1
    rows = (spark.read.parquet(idx).filter(F.col("vec_id") == 100)
            .select("centroid").collect())
    assert len(rows) == 1  # exactly one version in the index
    new_c = [r.centroid for r in rows]
    donor_c = [r.centroid for r in spark.read.parquet(idx)
               .filter(F.col("vec_id") == 7).select("centroid").collect()]
    assert new_c == donor_c and new_c != old_c
    assert _probe(spark, idx, emb, cents) == _rebuild_probe(
        spark, tbl, emb, cents, f"{tmp_table_path}/fresh")


def test_crash_replay_converges(spark, emb, tmp_table_path):
    """A crash between the index fold and the watermark publish replays
    the same delta — delete-then-append makes the replay converge to the
    identical content (no doubled rows)."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_crash",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding")
    b0, b1, _ = _batches(emb)
    tbl.bulk_insert(b0)
    m.catch_up()
    mark_before = json.loads(open(os.path.join(idx,
                                               "_watermark.json")).read())
    tbl.upsert(b1)
    m.catch_up()
    n_once = spark.read.parquet(idx).count()
    # simulate the crash: roll the watermark back, forcing a replay
    with open(os.path.join(idx, "_watermark.json"), "w") as f:
        json.dump(mark_before, f)
    m2 = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding")
    assert m2.catch_up() == b1.count()  # the delta is re-applied...
    assert spark.read.parquet(idx).count() == n_once  # ...not re-added


def test_track_deletes_removes_vectors(spark, emb, tmp_table_path):
    """track_deletes=True: a table DELETE removes the vectors from the
    index in the same delta-sized CDC pass."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_del",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding",
                           track_deletes=True)
    tbl.bulk_insert(emb)
    m.catch_up()
    dels = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    tbl.delete(dels.select("vec_id"))
    assert m.catch_up() == 20
    left = spark.read.parquet(idx)
    assert left.filter((F.col("vec_id") >= 20)
                       & (F.col("vec_id") < 40)).count() == 0
    assert left.count() == emb.count() - 20
    assert _probe(spark, idx, emb, cents) == _rebuild_probe(
        spark, tbl, emb, cents, f"{tmp_table_path}/fresh")


def test_rollback_triggers_rebuild(spark, emb, tmp_table_path):
    """A rollback newer than the watermark invalidates indexed rows the
    incremental view cannot explain — the maintainer rebuilds from the
    table snapshot and the rolled-back vectors are gone."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_rb",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding")
    b0, b1, _ = _batches(emb)
    tbl.bulk_insert(b0)
    m.catch_up()
    c1 = tbl.timeline.last_completed().timestamp
    tbl.upsert(b1)
    m.catch_up()
    tbl.rollback(tbl.timeline.last_completed().timestamp)
    assert m.catch_up() == b0.count()  # rebuild applied snapshot rows
    idx_ids = {r.vec_id for r in
               spark.read.parquet(idx).select("vec_id").collect()}
    tbl_ids = {r.vec_id for r in
               tbl.snapshot().select("vec_id").collect()}
    assert idx_ids == tbl_ids
    b1_ids = {r.vec_id for r in b1.select("vec_id").collect()}
    assert not (idx_ids & b1_ids)  # rolled-back vectors really gone
    assert c1 is not None


def test_maintainer_attached_before_first_commit(spark, emb,
                                                 tmp_table_path):
    """A maintainer attached to an EMPTY table: the first sync publishes
    a null watermark (the index dir holds only _watermark.json); the
    sync after the first commit must build the lists instead of trying
    to delta-fold into a list-less directory."""
    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "emb_empty",
                             ["vec_id"], None)
    cents = emb.filter(F.col("vec_id") < 16)
    idx = f"{tmp_table_path}/idx"
    m = IvfIndexMaintainer(tbl, idx, cents, "vec_id", "embedding")
    assert m.catch_up() == 0  # empty table: watermark published, no lists
    assert os.path.exists(os.path.join(idx, "_watermark.json"))
    b0, b1, _ = _batches(emb)
    tbl.bulk_insert(b0)
    assert m.catch_up() == b0.count()
    tbl.upsert(b1)
    assert m.catch_up() == b1.count()  # and the delta path works after
    assert spark.read.parquet(idx).count() == b0.count() + b1.count()


# ------------------------------------------ corpus sketch maintainer (r12)
@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text", "source").cache())


def test_sketch_incremental_equals_batch(spark, docs, tmp_table_path):
    """Min-merge is a monoid: folding three ingest batches yields a state
    whose overlap is BIT-IDENTICAL to corpus_overlap_minhash over the
    whole corpus in one pass."""
    from hoodie_spark.streaming import CorpusSketchMaintainer

    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "docs_sk",
                             ["doc_id"], None)
    m = CorpusSketchMaintainer(tbl, f"{tmp_table_path}/sk", "source",
                               "text", num_hashes=32)
    for k in range(3):
        tbl.upsert(docs.filter(F.col("doc_id") % 3 == k))
        m.catch_up()
    got = sorted(map(tuple, m.overlap().collect()))
    want = sorted(map(tuple, HF.corpus_overlap_minhash(
        docs, "source", "text", num_hashes=32).collect()))
    assert got == want
    # replay idempotence: folding the last batch again changes nothing
    m.update(docs.filter(F.col("doc_id") % 3 == 2))
    assert sorted(map(tuple, m.overlap().collect())) == want


def test_sketch_est_distinct_equals_batch(spark, docs, tmp_table_path):
    """est_distinct() off the maintained state == the batch
    group_distinct_sketch over the union's exploded shingles — same
    minima, same estimator, bit-for-bit."""
    from hoodie_spark.functions.text import char_ngrams
    from hoodie_spark.streaming import CorpusSketchMaintainer

    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "docs_skd",
                             ["doc_id"], None)
    m = CorpusSketchMaintainer(tbl, f"{tmp_table_path}/sk", "source",
                               "text", num_hashes=32)
    for k in range(3):
        tbl.upsert(docs.filter(F.col("doc_id") % 3 == k))
        m.catch_up()
    got = {r.source: r.est_distinct for r in m.est_distinct().collect()}
    sh = docs.select("source",
                     F.explode(char_ngrams(F.col("text"), 5)).alias("sh"))
    want = {r.source: r.est_distinct for r in HF.group_distinct_sketch(
        sh, "source", "sh", num_hashes=32).collect()}
    assert got == want
    # and the estimate tracks the exact distinct-shingle counts
    exact = {r.source: r.n for r in sh.groupBy("source").agg(
        F.countDistinct("sh").alias("n")).collect()}
    for g, est in got.items():
        assert abs(est - exact[g]) / exact[g] < 0.5


def test_sketch_rollback_rebuilds(spark, docs, tmp_table_path):
    """A rollback past the watermark re-sketches the snapshot — rolled-
    back shingles leave the state (min can't be un-merged, so this is the
    one path that re-reads the table)."""
    from hoodie_spark.streaming import CorpusSketchMaintainer

    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "docs_skrb",
                             ["doc_id"], None)
    m = CorpusSketchMaintainer(tbl, f"{tmp_table_path}/sk", "source",
                               "text", num_hashes=32)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    tbl.upsert(b0)
    m.catch_up()
    want = sorted(map(tuple, m.overlap().collect()))
    tbl.upsert(docs.filter(F.col("doc_id") % 3 == 1))
    m.catch_up()
    assert sorted(map(tuple, m.overlap().collect())) != want
    tbl.rollback(tbl.timeline.last_completed().timestamp)
    assert m.catch_up() == b0.count()  # rebuild from the snapshot
    assert sorted(map(tuple, m.overlap().collect())) == want


def test_sketch_param_mismatch_raises(spark, docs, tmp_table_path):
    from hoodie_spark.streaming import CorpusSketchMaintainer

    tbl = HoodieTable.create(spark, f"{tmp_table_path}/t", "docs_skp",
                             ["doc_id"], None)
    m = CorpusSketchMaintainer(tbl, f"{tmp_table_path}/sk", "source",
                               "text", num_hashes=32)
    tbl.upsert(docs.limit(10))
    m.catch_up()
    with pytest.raises(ValueError):
        CorpusSketchMaintainer(tbl, f"{tmp_table_path}/sk", "source",
                               "text", num_hashes=16)


# ------------------------------------- rebuild watermark before snapshot
def _race_setup(kind, spark, emb, docs, path):
    """(table, maintainer, late batch, rebuild trigger, late-rows-folded
    check) for a maintainer whose state starts from a table snapshot."""
    from hoodie_spark.streaming import CorpusSketchMaintainer

    if kind == "sketch":
        tbl = HoodieTable.create(spark, f"{path}/t", "race_sk",
                                 ["doc_id"], None)
        m = CorpusSketchMaintainer(tbl, f"{path}/sk", "source", "text",
                                   num_hashes=16)
        tbl.insert(docs)
        m.catch_up()
        late = (docs.limit(20)
                .withColumn("doc_id", F.col("doc_id") + 1_000_000)
                .withColumn("source", F.lit("late")))
        return tbl, m, late, m.rebuild, lambda: "late" in {
            r.source for r in m.est_distinct().collect()}
    tbl = HoodieTable.create(spark, f"{path}/t", "race_ivf",
                             ["vec_id"], None)
    m = IvfIndexMaintainer(tbl, f"{path}/idx", emb.filter(
        F.col("vec_id") < 16), "vec_id", "embedding")
    tbl.insert(emb.filter(F.col("vec_id") % 2 == 0))
    # the first sync builds the index from the snapshot
    return (tbl, m, emb.filter(F.col("vec_id") % 2 == 1), m.catch_up,
            lambda: spark.read.parquet(f"{path}/idx").count()
            == emb.count())


@pytest.mark.parametrize("kind", ["sketch", "ivf"])
def test_commit_between_snapshot_and_watermark_is_folded(
        spark, emb, docs, tmp_table_path, monkeypatch, kind):
    """A commit landing right after a rebuild resolved its snapshot must
    be the next catch_up's delta — a watermark read after the snapshot
    would claim it and lose its rows for good."""
    tbl, m, late, trigger, late_folded = _race_setup(
        kind, spark, emb, docs, tmp_table_path)
    snapshot, fired = tbl.snapshot, []

    def snapshot_then_commit(*args, **kwargs):
        out = snapshot(*args, **kwargs)
        if not fired:
            fired.append(1)
            tbl.insert(late)
        return out

    monkeypatch.setattr(tbl, "snapshot", snapshot_then_commit)
    trigger()
    assert fired
    monkeypatch.undo()
    assert m.catch_up() == late.count()
    assert late_folded()
