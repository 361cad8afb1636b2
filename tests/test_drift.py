"""Distribution-shift diagnostics (functions/drift.py) and the maintained
DriftMonitor (streaming/drift.py)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType, functions as HF
from hoodie_spark.streaming import DriftMonitor


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_histogram_full_spine_and_counts(spark):
    df = _docs(spark, [(1, "a a b"), (2, "a")])
    hist = HF.token_histogram(df, "text", buckets=8).collect()
    assert len(hist) == 8
    assert sum(r["cnt"] for r in hist) == 4  # total tokens
    assert {r["bucket"] for r in hist} == set(range(8))


def test_shift_zero_on_identical_distribution(spark):
    df = _docs(spark, [(i, "alpha beta gamma") for i in range(10)])
    out = HF.distribution_shift(df, df, "text", buckets=16).collect()
    assert len(out) == 16
    assert all(r["psi"] == 0.0 and r["kl"] == 0.0 and r["log_ratio"] == 0.0
               for r in out)


def test_shift_detects_drift(spark):
    ref = _docs(spark, [(i, "common words shared tokens") for i in range(50)])
    cur = _docs(spark, [(i, "totally different vocabulary here")
                        for i in range(50)])
    out = HF.distribution_shift(ref, cur, "text", buckets=32)
    psi = out.agg(F.sum("psi")).first()[0]
    assert psi > 0.25  # "investigate" threshold
    same = HF.distribution_shift(ref, ref.limit(25), "text", buckets=32) \
        .agg(F.sum("psi")).first()[0]
    assert same < psi  # same distribution at half volume drifts far less


def test_histogram_bucket_bounds(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        HF.token_histogram(df, "text", buckets=1)
    with pytest.raises(ValueError):
        HF.token_histogram(df, "text", buckets=10 ** 6)


def _table(spark, path, **kw):
    return HoodieTable.create(spark, path, "docs", ["doc_id"], "doc_id",
                              partition_expr="'p0'", **kw)


def test_monitor_maintained_equals_batch(spark, tmp_table_path):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    tbl = _table(spark, tmp_table_path)
    state = os.path.join(tmp_table_path, "_drift")
    mon = DriftMonitor(tbl, state, "text", buckets=32)
    ref = docs.filter("doc_id % 2 = 0")
    mon.set_reference(ref)
    # three append batches
    for k in range(3):
        tbl.insert(docs.filter(f"doc_id % 3 = {k}"))
        mon.catch_up()
    got = sorted(map(tuple, mon.shift().collect()))
    want = sorted(map(tuple, HF.distribution_shift(
        ref, tbl.snapshot().select("doc_id", "text"), "text",
        buckets=32).collect()))
    assert got == want  # maintained ≡ one-pass, bit-identical


def test_monitor_track_changes_exact_under_upsert_delete(
        spark, tmp_table_path):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(100))
    tbl = _table(spark, tmp_table_path)
    state = os.path.join(tmp_table_path, "_drift")
    mon = DriftMonitor(tbl, state, "text", buckets=32, track_changes=True)
    tbl.insert(docs)
    mon.catch_up()
    # update 30 docs' text, delete 10 — the maintained histogram must
    # un-merge the before-images exactly
    tbl.upsert(docs.filter("doc_id % 3 = 0")
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" extra extra"))))
    tbl.delete(docs.filter("doc_id % 10 = 0").select("doc_id"))
    mon.catch_up()
    st = mon.store.load()
    fresh = DriftMonitor(tbl, state + "2", "text", buckets=32)
    fresh_counts = fresh._census(tbl.snapshot().select("text"))
    assert st["counts"] == fresh_counts


def test_monitor_plain_mode_append_only_caveat(spark, tmp_table_path):
    # WITHOUT track_changes an update double-counts: rebuild() repairs
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(50))
    tbl = _table(spark, tmp_table_path)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "_drift"),
                       "text", buckets=16)
    tbl.insert(docs)
    mon.catch_up()
    tbl.upsert(docs.limit(10))  # same text rewritten
    mon.catch_up()
    snap_census = mon._census(tbl.snapshot().select("text"))
    assert sum(mon.store.load()["counts"]) > sum(snap_census)  # double-counted
    mon.rebuild()
    assert mon.store.load()["counts"] == snap_census


def test_monitor_rollback_triggers_rebuild(spark, tmp_table_path):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(60))
    tbl = _table(spark, tmp_table_path)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "_drift"),
                       "text", buckets=16)
    tbl.insert(docs.filter("doc_id % 2 = 0"))
    mon.catch_up()
    r2 = tbl.insert(docs.filter("doc_id % 2 = 1"))
    mon.catch_up()
    tbl.rollback(r2.instant)
    mon.catch_up()  # watermark is newer than the rollback point → rebuild
    assert mon.store.load()["counts"] == mon._census(
        tbl.snapshot().select("text"))


def test_monitor_requires_reference_for_shift(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "_drift"),
                       "text", buckets=16)
    with pytest.raises(ValueError, match="no reference"):
        mon.shift()


def test_monitor_state_config_guard(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    state = os.path.join(tmp_table_path, "_drift")
    DriftMonitor(tbl, state, "text", buckets=16).catch_up()
    with pytest.raises(ValueError, match="was built with"):
        DriftMonitor(tbl, state, "text", buckets=32)


def test_monitor_through_ingestor_hook(spark, tmp_table_path):
    """DriftMonitor rides the Ingestor's post-commit maintainer hook like
    the other maintained services — per-batch catch-up, end state equals
    a fresh census of the ingested table."""
    from hoodie_spark.streaming import DriftMonitor, Ingestor
    from hoodie_spark.streaming.ingest import Source

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))

    class _Batches(Source):
        def __init__(self, dfs):
            self.dfs = dfs

        def fetch(self, s, ck):
            i = int(ck) if ck else 0
            if i >= len(self.dfs):
                return None, ck
            return self.dfs[i], str(i + 1)

    tbl = _table(spark, tmp_table_path)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "_drift"),
                       "text", buckets=16)
    batches = [docs.filter(f"doc_id % 3 = {k}") for k in range(3)]
    Ingestor(tbl, _Batches(batches),
             index_maintainers=[mon]).run_continuous(3)
    assert mon.store.load()["counts"] == mon._census(
        tbl.snapshot().select("text"))


def test_monitor_through_writestream_sink(spark, tmp_table_path):
    """The foreachBatch sink gives maintainers the same post-commit seat
    as the Ingestor — and batch replays are skipped before they run."""
    from hoodie_spark.streaming import DriftMonitor
    from hoodie_spark.streaming.sink import foreach_batch_writer

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    tbl = _table(spark, tmp_table_path)
    mon = DriftMonitor(tbl, os.path.join(tmp_table_path, "_drift"),
                       "text", buckets=16)
    fn = foreach_batch_writer(tbl, maintainers=[mon])
    fn(docs.filter("doc_id % 2 = 0"), 0)
    fn(docs.filter("doc_id % 2 = 1"), 1)
    fn(docs.filter("doc_id % 2 = 1"), 1)  # replay: no write, no re-fold
    assert mon.store.load()["counts"] == mon._census(
        tbl.snapshot().select("text"))


def test_monitor_commit_landing_mid_fold_not_double_counted(
        spark, tmp_table_path):
    """Round-12 advice (drift.py watermark gap): catch_up captures the
    watermark, then lazily evaluates the delta census across several
    Spark actions — a commit landing in between must NOT be folded under
    the earlier watermark (it would be refolded next catch_up: a
    permanent double count in the SUM monoid). The fold is now bounded
    at end=watermark, so the mid-fold commit is simply the next delta."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    tbl = _table(spark, tmp_table_path)
    state = os.path.join(tmp_table_path, "_drift")
    mon = DriftMonitor(tbl, state, "text", buckets=32)
    tbl.insert(docs.filter("doc_id % 3 = 0"))
    mon.catch_up()
    tbl.insert(docs.filter("doc_id % 3 = 1"))

    real_inc = tbl.incremental
    fired = {"n": 0}

    def racy_incremental(begin=None, end=None, **kw):
        # a concurrent writer lands a commit AFTER the watermark was
        # captured but BEFORE the census evaluates
        if fired["n"] == 0:
            fired["n"] = 1
            tbl.insert(docs.filter("doc_id % 3 = 2"))
        return real_inc(begin=begin, end=end, **kw)

    tbl.incremental = racy_incremental
    try:
        mon.catch_up()
    finally:
        tbl.incremental = real_inc
    assert fired["n"] == 1
    mon.catch_up()  # folds the mid-fold commit exactly once

    fresh = DriftMonitor(tbl, state + "_fresh", "text", buckets=32)
    fresh.catch_up()
    got = json.loads(tbl.storage.read_bytes(
        os.path.join(state, "histogram.json")))["counts"]
    want = json.loads(tbl.storage.read_bytes(
        os.path.join(state + "_fresh", "histogram.json")))["counts"]
    assert got == want  # maintained ≡ one-pass despite the race


def test_monitor_second_concurrent_maintainer_fails_cleanly(
        spark, tmp_table_path):
    """Same single-maintainer fence as the deduper, on the DriftMonitor:
    a held fold lock makes a rival's catch_up fail cleanly."""
    from hoodie_spark.streaming import ConcurrentMaintainerError, \
        maintainer_lock

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(50))
    tbl = _table(spark, tmp_table_path)
    tbl.insert(docs)
    state = os.path.join(tmp_table_path, "_drift")
    mon = DriftMonitor(tbl, state, "text", buckets=16)
    with maintainer_lock(tbl.storage, state):
        rival = DriftMonitor(tbl, state, "text", buckets=16)
        with pytest.raises(ConcurrentMaintainerError):
            rival.catch_up()
    assert mon.catch_up() > 0
