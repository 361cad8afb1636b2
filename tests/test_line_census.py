"""LineCensusMaintainer: maintained cross-document line census
(streaming half of the C4/CCNet boilerplate filter).

Contract under test: census(batches 1..n) == census(union) bit-for-bit
(SUM monoid), apply() == batch line_dedup once the census covers the
corpus, watermark-gated catch_up, rollback -> rebuild, and the
single-maintainer fence.
"""

import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import functions as HF
from hoodie_spark.streaming import LineCensusMaintainer
from hoodie_spark.streaming.maintainer import ConcurrentMaintainerError


def _lined(spark, n, start=0):
    rows = []
    for i in range(start, start + n):
        lines = [f"unique content {i}", "SUBSCRIBE NOW", f"tail {i % 4}"]
        rows.append((i, "\n".join(lines)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _census_dict(m):
    return {r.lhash: r.n for r in m.census().collect()}


def test_fold_equals_batch_census(spark, tmp_table_path):
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    m = LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc"),
                             "doc_id", "text")
    full = _lined(spark, 30)
    for k in range(3):
        m.fold(full.filter(F.col("doc_id") % 3 == k))
    got = _census_dict(m)
    expect = {r.lhash: r.n for r in
              full.select(F.explode(F.split("text", "\n")).alias("l"))
              .groupBy(F.md5("l").alias("lhash"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expect
    # boilerplate at max_df=1: SUBSCRIBE NOW (30) and the 4 tails
    assert m.boilerplate().count() == 5


def test_apply_matches_batch_line_dedup(spark, tmp_table_path):
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    m = LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc"),
                             "doc_id", "text")
    full = _lined(spark, 20)
    m.fold(full)
    got = {r.doc_id: r.text for r in m.apply(full).collect()}
    expect = {r.doc_id: r.text
              for r in HF.line_dedup(full, "doc_id", "text").collect()}
    assert got == expect
    assert got[3] == "unique content 3"  # boilerplate + hot tail dropped


def test_catch_up_watermark_and_idempotence(spark, tmp_table_path):
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    m = LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc"),
                             "doc_id", "text")
    tbl.insert(_lined(spark, 10))
    m.catch_up()
    first = _census_dict(m)
    # no new commits: catch_up must be a no-op, not a double count
    m.catch_up()
    assert _census_dict(m) == first
    tbl.insert(_lined(spark, 10, start=10))
    m.catch_up()
    assert _census_dict(m)[
        [k for k, v in _census_dict(m).items() if v == 20][0]] == 20


def test_rollback_triggers_rebuild(spark, tmp_table_path):
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    m = LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc"),
                             "doc_id", "text")
    tbl.insert(_lined(spark, 10))
    m.catch_up()
    c1 = tbl.commits()[-1]["instant"]
    tbl.insert(_lined(spark, 10, start=10))
    m.catch_up()
    tbl.rollback(tbl.commits()[-1]["instant"])
    m.catch_up()
    got = _census_dict(m)
    expect = {r.lhash: r.n for r in
              _lined(spark, 10)
              .select(F.explode(F.split("text", "\n")).alias("l"))
              .groupBy(F.md5("l").alias("lhash"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expect
    assert c1  # sanity: first commit survived the rollback


def _expect_census(df):
    return {r.lhash: r.n for r in
            df.select(F.explode(F.split("text", "\n")).alias("l"))
            .groupBy(F.md5("l").alias("lhash"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def test_first_fold_crash_replay_does_not_double_count(spark,
                                                       tmp_table_path):
    """A crash during the very FIRST fold's parquet write leaves committed
    part-files at gen-0 with no state.json. The retried fold must ignore
    that unpublished partial (counts are a SUM — merging it with the full
    replay silently doubles those lines)."""
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    state = os.path.join(tmp_table_path, "lc")
    m = LineCensusMaintainer(tbl, state, "doc_id", "text")
    batch = _lined(spark, 12)
    # simulate the crashed first fold: a PARTIAL census (half the batch)
    # fully written under gen-000000, state.json never published
    partial = batch.filter(F.col("doc_id") < 6)
    (partial.select(F.explode(F.split("text", "\n")).alias("l"))
     .groupBy(F.md5("l").alias("lhash"))
     .agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(os.path.join(
         state, "census", "gen-000000")))
    assert m.census().count() == 0  # unpublished generation is invisible
    m2 = LineCensusMaintainer(tbl, state, "doc_id", "text")
    m2.fold(batch)  # the retry replays the full batch
    assert _census_dict(m2) == _expect_census(batch)


def test_later_fold_crash_replay_does_not_double_count(spark,
                                                       tmp_table_path):
    """Same crash window after a published generation exists: the partial
    gen-(published+1) from the crashed fold must be overwritten, never
    merged."""
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    state = os.path.join(tmp_table_path, "lc")
    m = LineCensusMaintainer(tbl, state, "doc_id", "text")
    b1, b2 = _lined(spark, 10), _lined(spark, 10, start=10)
    m.fold(b1)
    g = m.store.gens["census"]
    # crashed second fold: partial merge output at the next generation
    (b2.limit(3).select(F.explode(F.split("text", "\n")).alias("l"))
     .groupBy(F.md5("l").alias("lhash"))
     .agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(os.path.join(
         state, "census", f"gen-{g + 1:06d}")))
    assert _census_dict(m) == _expect_census(b1)  # still the published gen
    m.fold(b2)  # retry
    union = b1.unionByName(b2)
    assert _census_dict(m) == _expect_census(union)


def test_single_maintainer_fence(spark, tmp_table_path):
    from hoodie_spark.streaming.maintainer import maintainer_lock

    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    state = os.path.join(tmp_table_path, "lc")
    m = LineCensusMaintainer(tbl, state, "doc_id", "text")
    with maintainer_lock(tbl.storage, state):
        with pytest.raises(ConcurrentMaintainerError):
            m.fold(_lined(spark, 5))


def test_max_df_param_guard(spark, tmp_table_path):
    tbl = HoodieTable.create(spark, os.path.join(tmp_table_path, "t"),
                             "lc_docs", ["doc_id"], None)
    state = os.path.join(tmp_table_path, "lc")
    m = LineCensusMaintainer(tbl, state, "doc_id", "text", max_df=2)
    m.fold(_lined(spark, 5))
    with pytest.raises(ValueError):
        LineCensusMaintainer(tbl, state, "doc_id", "text", max_df=1)
    with pytest.raises(ValueError):
        LineCensusMaintainer(tbl, os.path.join(tmp_table_path, "lc2"),
                             "doc_id", "text", max_df=0)
