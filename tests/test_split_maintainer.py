"""Leakage-safe split as maintained streaming state
(streaming/split_maintainer.py)."""

import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import functions as HF
from hoodie_spark.streaming import SplitMaintainer

SF_DIR = "/root/testdata/sf0.001"
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _table(spark, path):
    return HoodieTable.create(spark, path, "docs_split", ["doc_id"],
                              "doc_id", partition_expr="'p'")


def _docs(spark, n=60):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < n))


def test_streaming_equals_batch_under_exact_copy_batches(
        spark, tmp_table_path):
    """Exact copies add no new connectivity (a byte-identical copy has
    its original's signature, hence exactly its original's edges), so
    streaming assignment over id-ordered batches must be BIT-identical
    to one batch pass over the union."""
    docs = _docs(spark)
    c1 = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    c2 = docs.withColumn("doc_id", F.col("doc_id") + 20000)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    for batch in (docs, c1, c2):
        sm.assign_and_register(batch)
    got = {r["doc_id"]: r["split"] for r in sm.assignments().collect()}
    assert len(got) == 180

    # batch reference: same sig-agreement gate as the maintainer
    mm = HF.min_sig_matches(0.8, 16)
    union = docs.unionByName(c1).unionByName(c2)
    feats = HF.doc_features(union, "doc_id", "text", 16, 4, 5)
    banded = feats.select("doc_id", "minhash",
                          F.explode("bands").alias("bk")) \
        .select("doc_id", "minhash", F.col("bk.band").alias("band"),
                F.col("bk.bh").alias("bh"))
    near = (HF.bounded_self_pairs(banded, ["band", "bh"], "doc_id",
                                  None, carry=("minhash",))
            .filter(HF.sig_agreement(F.col("minhash_a"),
                                     F.col("minhash_b")) >= mm)
            .select("id_a", "id_b"))
    exact = (feats.alias("a").join(
        feats.alias("b"),
        (F.col("a.chash") == F.col("b.chash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b")))
    want = {r["doc_id"]: r["split"] for r in HF.leakage_safe_split(
        union, "doc_id", "text", SPLITS,
        pairs=near.unionByName(exact)).select("doc_id", "split").collect()}
    assert got == want


def test_cross_batch_inheritance_and_eval_integrity(spark, tmp_table_path):
    """A later exact/near copy of an already-assigned doc lands in that
    doc's split — eval never gains a paraphrase of a training doc."""
    docs = _docs(spark, n=200)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    sm.assign_and_register(docs)
    first = {r["doc_id"]: r["split"] for r in sm.assignments().collect()}
    copies = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    assigned = {r["doc_id"]: r["split"] for r in
                sm.assign_and_register(copies)
                .select("doc_id", "split").collect()}
    for i, split in assigned.items():
        assert split == first[i - 10000], f"copy {i} escaped its split"


def test_replay_is_idempotent(spark, tmp_table_path):
    """Re-registering the same batch (crash replay) re-derives identical
    roots: each doc matches its own persisted features."""
    docs = _docs(spark)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    a = {r["doc_id"]: (r["__root"], r["split"]) for r in
         sm.assign_and_register(docs).select(
             "doc_id", "__root", "split").collect()}
    b = {r["doc_id"]: (r["__root"], r["split"]) for r in
         sm.assign_and_register(docs).select(
             "doc_id", "__root", "split").collect()}
    assert a == b


def test_late_bridge_caveat_pinned(spark, tmp_table_path):
    """The documented online limitation: a late doc bridging two
    already-assigned components inherits the smallest root; the other
    component's earlier assignment STANDS (no retroactive merge)."""
    rows1 = [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4),
             (2, "one two three four five six seven eight nine " * 4)]
    # doc 3 = first half of doc 1 + first half of doc 2 → bridges both
    h1 = rows1[0][1][: len(rows1[0][1]) // 1]
    bridge = rows1[0][1] + " " + rows1[1][1]
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS, threshold=0.3)
    sm.assign_and_register(
        spark.createDataFrame(rows1, "doc_id long, text string"))
    before = {r["doc_id"]: r["split"] for r in sm.assignments().collect()}
    out = sm.assign_and_register(spark.createDataFrame(
        [(3, bridge)], "doc_id long, text string"))
    r3 = out.select("__root", "split").collect()[0]
    after = {r["doc_id"]: r["split"] for r in sm.assignments().collect()}
    # earlier assignments never move
    assert after[1] == before[1] and after[2] == before[2]
    # the bridge inherits the smallest matched root if it matched anything
    if r3["__root"] != 3:
        assert r3["__root"] == 1 and r3["split"] == before[1]
    assert h1  # silence lint on the helper slice


def test_catch_up_folds_table_delta(spark, tmp_table_path):
    docs = _docs(spark)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    tbl.insert(docs)
    n = sm.catch_up()
    assert n == docs.count()
    assert sm.catch_up() == 0  # watermark holds
    tbl.insert(docs.withColumn("doc_id", F.col("doc_id") + 10000))
    assert sm.catch_up() == docs.count()
    got = {r["doc_id"]: r["split"] for r in sm.assignments().collect()}
    for i in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        assert got[i + 10000] == got[i]  # inheritance through catch_up


def test_param_and_fraction_guards(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    state = os.path.join(tmp_table_path, "_split")
    with pytest.raises(ValueError):
        SplitMaintainer(tbl, state, "doc_id", "text", {"train": 0.5})
    SplitMaintainer(tbl, state, "doc_id", "text", SPLITS).catch_up()
    with pytest.raises(ValueError):
        SplitMaintainer(tbl, state, "doc_id", "text",
                        {"train": 0.5, "test": 0.5})
    with pytest.raises(ValueError):
        SplitMaintainer(tbl, state, "doc_id", "text", SPLITS, bands=8)


def test_crash_between_register_and_watermark_recovers(spark,
                                                       tmp_table_path):
    """Crash story: state appended but the watermark publish lost —
    catch_up refolds the delta; replay re-derives identical roots and
    assignments() stays duplicate-free (distinct over byte-identical
    replay rows)."""
    docs = _docs(spark)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    tbl.insert(docs)
    # simulate the crash: register WITHOUT advancing the watermark
    sm.assign_and_register(docs, instant=None)
    assert sm.catch_up() == docs.count()  # gap detected → refold
    assert sm.catch_up() == 0
    got = sm.assignments().collect()
    assert len(got) == docs.count()  # one distinct row per doc
    fresh = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_f"),
                            "doc_id", "text", SPLITS)
    fresh.catch_up()
    want = {r["doc_id"]: r["split"] for r in fresh.assignments().collect()}
    assert {r["doc_id"]: r["split"] for r in got} == want


def test_split_maintainer_assign_no_window(spark, tmp_table_path):
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    out = sm._assign(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, \
        "maintained split's in-batch exact edges regressed to a window"


# --------------------------------------------------- bridge counter
def test_bridge_counter_increments_and_rebuild_resets(
        spark, tmp_table_path):
    """A doc whose matches span two already-assigned components is the
    documented online limitation — the counter makes it OBSERVABLE so an
    operator can decide when rebuild() is warranted."""
    # construction searched offline against the EXACT md5 MinHash plane
    # (deterministic forever): C = A+" "+B shares one full LSH band and
    # ≥4/16 signature positions with EACH of A and B, while A and B share
    # zero positions and zero bands — so at threshold 0.25 (mm=4) doc 3
    # bridges the two already-assigned components
    a = "nu tau delta pi lam eta alpha rho " * 3
    b = "two four eight three fifteen six one eleven " * 3
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS, threshold=0.25)
    sm.assign_and_register(spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"))
    assert sm.bridge_count() == 0
    out = sm.assign_and_register(spark.createDataFrame(
        [(3, a + " " + b)], "doc_id long, text string"))
    r3 = out.select("__root").collect()[0]["__root"]
    assert r3 == 1, "bridge doc must inherit the smallest matched root"
    assert sm.bridge_count() == 1, "bridge fold did not count"
    # counter survives a maintainer restart (persisted in state.json)
    sm2 = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                          "doc_id", "text", SPLITS, threshold=0.25)
    assert sm2.bridge_count() == 1
    # rebuild re-derives batch-exact assignments → drift counter resets
    tbl.insert(spark.createDataFrame(
        [(1, a), (2, b), (3, a + " " + b)], "doc_id long, text string"))
    sm.rebuild()
    assert sm.bridge_count() == 0


def test_non_bridge_folds_do_not_count(spark, tmp_table_path):
    docs = _docs(spark, n=100)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    sm.assign_and_register(docs)
    # exact copies match exactly ONE state root each — never a bridge
    sm.assign_and_register(docs.withColumn("doc_id",
                                           F.col("doc_id") + 10_000))
    assert sm.bridge_count() == 0


# --------------------------------------------------- state compaction
def test_compact_state_folds_replays_and_preserves_assignments(
        spark, tmp_table_path):
    docs = _docs(spark, n=120)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    sm.assign_and_register(docs)
    sm.assign_and_register(docs)  # crash replay: byte-identical appends
    sm.assign_and_register(docs.withColumn("doc_id",
                                           F.col("doc_id") + 10_000))
    before = {r["doc_id"]: (r["root"], r["split"])
              for r in sm.assignments().collect()}
    raw = spark.read.parquet(
        os.path.join(tmp_table_path, "_split", "assignments",
                     "gen-000000")).count()
    assert raw > len(before), "replay should have appended duplicates"
    sm.compact_state()
    after = {r["doc_id"]: (r["root"], r["split"])
             for r in sm.assignments().collect()}
    assert after == before
    compacted = spark.read.parquet(
        sm.store.live("assignments")).count()
    assert compacted == len(before), "compaction left duplicate rows"
    # inheritance still works against the compacted generations
    out = sm.assign_and_register(
        docs.withColumn("doc_id", F.col("doc_id") + 20_000))
    for r in out.select("doc_id", "split").collect():
        assert r["split"] == before[r["doc_id"] - 20_000][1], \
            "post-compact copy escaped its original's split"
    # a restarted maintainer reads the compacted pointer
    sm2 = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                          "doc_id", "text", SPLITS)
    assert sm2.store.gens["content"] == sm.store.gens["content"]
    assert sm2.assignments().count() == len(before) + docs.count()


# ------------------------------------------------ id-type agnosticism
def test_string_ids_supported_and_type_mismatch_rejected(
        spark, tmp_table_path):
    docs = _docs(spark, n=80).select(
        F.concat(F.lit("doc-"), F.format_string("%05d", "doc_id"))
        .alias("doc_id"), "text")
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    out = sm.assign_and_register(docs)
    assert out.count() == 80
    # id-ordered arrival (the documented contract): copy ids must sort
    # AFTER their originals, or the copy's own id would become the new
    # component root and re-hash the split — suffix, not prefix
    copies = docs.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("-copy")))
    got = {r["doc_id"]: r["split"]
           for r in sm.assign_and_register(copies)
           .select("doc_id", "split").collect()}
    first = {r["doc_id"]: r["split"] for r in sm.assignments()
             .filter(~F.col("doc_id").endswith("-copy")).collect()}
    for k, split in got.items():
        assert split == first[k.removesuffix("-copy")]
    # a long-id batch against string-id state fails loudly, not silently
    with pytest.raises(ValueError, match="ids"):
        sm.assign_and_register(spark.createDataFrame(
            [(1, "x")], "doc_id long, text string"))
    # the captured type survives restart via state.json
    sm2 = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                          "doc_id", "text", SPLITS)
    assert sm2.store.load()["id_type"] == "string"


# ------------------------------------------------- hot-group knob
def test_max_band_rows_knob_keeps_components_connected(
        spark, tmp_table_path):
    """Capped band groups stay connected through bounded_self_pairs'
    pivot rows, so the ASSIGNMENT is identical to the exact join."""
    docs = _docs(spark, n=150)
    tbl = _table(spark, tmp_table_path)
    exact = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_a"),
                            "doc_id", "text", SPLITS)
    capped = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_b"),
                             "doc_id", "text", SPLITS, max_band_rows=4)
    a = {r["doc_id"]: r["split"] for r in
         exact.assign_and_register(docs).select("doc_id",
                                                "split").collect()}
    b = {r["doc_id"]: r["split"] for r in
         capped.assign_and_register(docs).select("doc_id",
                                                 "split").collect()}
    assert a == b


# ------------------------------------------------- persist contract
def test_assign_and_register_returns_pinned_frame(spark, tmp_table_path):
    docs = _docs(spark, n=40)
    tbl = _table(spark, tmp_table_path)
    sm = SplitMaintainer(tbl, os.path.join(tmp_table_path, "_split"),
                         "doc_id", "text", SPLITS)
    out = sm.assign_and_register(docs)
    assert sm._pin is not None and sm._pin.is_cached, \
        "returned frame's parent must stay persisted for the caller"
    assert out.count() == 40  # cheap re-read off the pin
    sm.release()
    assert sm._pin is None
    # next fold releases the previous pin automatically
    out2 = sm.assign_and_register(
        docs.withColumn("doc_id", F.col("doc_id") + 1000))
    pin2 = sm._pin
    sm.assign_and_register(
        docs.withColumn("doc_id", F.col("doc_id") + 2000))
    assert not pin2.is_cached
    assert out2 is not None
    sm.release()


def test_leakage_split_hot_exact_dup_no_window(spark):
    """≥100k byte-identical docs — the exact population the split's
    exact-text edges exist for (boilerplate clusters). The docs are too
    short to carry a shingle signature, so the ONLY duplicate relation
    is the exact-edge path: it must be a groupBy(hash) min + join back,
    never a window that sorts the whole cluster in one task."""
    n = 100_000
    # 3 chars < the 5-char shingle width → no MinHash signature, no LSH
    # bands: the exact-edge path is isolated (and the probe doesn't pay
    # the separately-guarded hot-band self-join on 100k identical sigs)
    dup = spark.range(0, n).select(
        F.col("id").alias("doc_id"), F.lit("abc").alias("text"))
    clean = spark.range(n, n + 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"))
    out = HF.leakage_safe_split(dup.unionByName(clean), "doc_id", "text",
                                SPLITS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, \
        "exact-duplicate edges regressed to a window over the text hash"
    agg = (out.filter(F.col("doc_id") < n)
           .agg(F.count_distinct("split").alias("k"),
                F.count(F.lit(1)).alias("n")).collect()[0])
    assert agg["n"] == n
    assert agg["k"] == 1, "byte-identical cluster split across splits"
