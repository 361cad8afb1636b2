"""Incremental dedup against persisted table state: batch-by-batch
filtering must yield EXACTLY the same keep-set as one global seen_dedup
pass over the union (the driver-oracle contract), survive a lost-state
crash via catch-up from the table, and plug into the Ingestor.

Reference parity: DeltaStreamer continuous mode
(hudi-utilities .../deltastreamer/HoodieDeltaStreamer.java:354) +
filterExists (hudi-client .../HoodieReadClient.java:186) generalized to
content/near-dup identity."""

import shutil

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable
from hoodie_spark import functions as HF
from hoodie_spark.streaming import IncrementalDeduper, Ingestor
from hoodie_spark.streaming.ingest import Source
from hoodie_spark.generation_store import GenerationStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    """Corpus with cross-batch exact AND near duplicates: batch boundaries
    at doc_id 1000/11000, originals in batch 0, exact copies in batch 1,
    near copies (text + ' zz') in batch 2."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 60).cache())
    exact = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    near = (docs.withColumn("doc_id", F.col("doc_id") + 20000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    return docs.unionByName(exact).unionByName(near).cache()


def _batches(corpus):
    return [corpus.filter(F.col("doc_id") < 1000),
            corpus.filter((F.col("doc_id") >= 1000) & (F.col("doc_id") < 11000)),
            corpus.filter(F.col("doc_id") >= 11000)]


def _crash_publish(store, payload):
    raise RuntimeError("crash before pointer publish")


def _global_keep(corpus):
    return {r.doc_id for r in
            HF.seen_dedup(corpus, "doc_id", "text", threshold=0.8)
            .select("doc_id").collect()}


def test_incremental_equals_batch_global(spark, corpus, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    for batch in _batches(corpus):
        kept = dd.filter_batch(batch)
        tbl.upsert(kept)
        dd.advance(batch)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    expected = _global_keep(corpus)
    assert got == expected
    # sanity: dedup actually fired — exact copies dropped, originals kept
    assert expected.issuperset({i for i in got if i < 1000})
    assert not any(10000 <= i < 20000 for i in got)


def test_catch_up_after_lost_state(spark, corpus, tmp_table_path):
    """Crash between commit and advance (or state dir lost): catch_up
    rebuilds kept-doc state from the table's incremental read, so an exact
    duplicate of an already-KEPT doc is still dropped."""
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_cr",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, b2 = _batches(corpus)
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    shutil.rmtree(dd.dir)  # state lost; table keeps batch-0 rows
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    kept1 = dd2.filter_batch(b1)  # catch_up backfills from the table
    assert kept1.count() == 0  # batch 1 is all exact copies of kept docs
    tbl.upsert(kept1)
    dd2.advance(b1)
    kept2 = dd2.filter_batch(b2)
    assert kept2.count() == 0  # near copies of kept docs
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)


def test_state_param_mismatch_raises(spark, corpus, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_pm",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text")
    dd.advance(_batches(corpus)[0])
    with pytest.raises(ValueError, match="num_hashes"):
        IncrementalDeduper(tbl, "doc_id", "text", num_hashes=32)


def test_compact_state_preserves_decisions(spark, corpus, tmp_table_path):
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_cp",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, b2 = _batches(corpus)
    for b in (b0, b1):
        tbl.upsert(dd.filter_batch(b))
        dd.advance(b)
    assert dd.compact_state() > 0
    assert dd.filter_batch(b1.limit(5)).count() == 0  # still seen
    tbl.upsert(dd.filter_batch(b2))
    dd.advance(b2)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)


class _ListSource(Source):
    """Test source: one pre-built DataFrame per checkpoint step."""

    def __init__(self, dfs):
        self.dfs = dfs

    def fetch(self, spark, checkpoint):
        i = int(checkpoint) if checkpoint else 0
        if i >= len(self.dfs):
            return None, checkpoint
        return self.dfs[i], str(i + 1)


def test_ingestor_with_deduper_three_microbatches(spark, corpus,
                                                  tmp_table_path):
    """DeltaStreamer-style continuous ingest with dedup-against-state:
    three micro-batches with cross-batch duplicates land exactly the
    batch-global keep-set, and the checkpoint still advances per batch."""
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_ing",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    ing = Ingestor(tbl, _ListSource(_batches(corpus)), deduper=dd)
    ing.run_continuous(3)
    assert ing.checkpoint() == "3"
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)


def test_compact_state_crash_recovery(spark, corpus, tmp_table_path,
                                      monkeypatch):
    """A compact that crashes BEFORE the pointer publish leaves the OLD
    generation live: decisions intact, the orphan generation is
    overwritten by the retried compact and swept after its publish —
    silently losing state would re-admit every future duplicate."""
    import os

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_crash",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, _ = _batches(corpus)
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    gens_before = dict(dd.store.gens)
    # crash window: both folded generations written, pointer never swapped
    monkeypatch.setattr(GenerationStore, "publish", _crash_publish)
    with pytest.raises(RuntimeError, match="pointer publish"):
        dd.compact_state()
    monkeypatch.undo()
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    assert dd2.store.gens == gens_before  # pointer unswapped
    assert dd2.filter_batch(b1).count() == 0  # exact copies still caught
    dd2.advance(b1)
    assert dd2.compact_state() > 0       # retry folds + sweeps the orphan
    for sub in ("content", "bands"):     # only the live generation remains
        entries = os.listdir(os.path.join(dd.dir, sub))
        assert entries == [f"gen-{dd2.store.gens[sub]:06d}"]


def test_legacy_flat_layout_reads_recovers_and_migrates(
        spark, corpus, tmp_table_path):
    """Pre-generation states (data directly under content//bands/, no
    "gens" pointer) stay readable and appendable, a legacy compact-crash
    window (.old/.compacting siblings) is repaired, and the next
    compact_state migrates everything into generation 0."""
    import json
    import os

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_legacy",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, b2 = _batches(corpus)
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    # rewrite the state as the LEGACY layout: flatten gen-000000 into the
    # store dir and strip the pointer from state.json
    for sub in ("content", "bands"):
        base = os.path.join(dd.dir, sub)
        flat = base + ".flat"
        os.replace(os.path.join(base, "gen-000000"), flat)
        os.rmdir(base)
        os.replace(flat, base)
    st = json.load(open(dd.store.pointer))
    st.pop("gens")
    with open(dd.store.pointer, "w") as f:
        json.dump(st, f)
    # plus a legacy compact-crash window on content: live dir moved away,
    # complete folded copy staged at .compacting
    d = os.path.join(dd.dir, "content")
    os.replace(d, d + ".old")
    shutil.copytree(d + ".old", d + ".compacting")
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    assert dd2.store.gens == {"content": None, "bands": None}
    assert dd2.filter_batch(b1).count() == 0  # recovered + consulted
    assert os.path.isdir(d) and not os.path.isdir(d + ".compacting")
    dd2.advance(b1)                     # appends into the flat layout
    assert dd2.compact_state() > 0      # migrates into gen-000000
    assert dd2.store.load()["gens"] == {"content": 0, "bands": 0}
    for sub in ("content", "bands"):    # flat bucket dirs swept
        assert os.listdir(os.path.join(dd.dir, sub)) == ["gen-000000"]
    tbl.upsert(dd2.filter_batch(b2))
    dd2.advance(b2)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)


def test_filter_advance_releases_cached_frames(spark, corpus,
                                               tmp_table_path):
    """The paired filter_batch/advance cycle must not leak persisted
    frames across micro-batches (long-running ingest)."""
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_pins",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, _ = _batches(corpus)
    kept = dd.filter_batch(b0)
    _, feats, banded = dd._feat_cache
    tbl.upsert(kept)
    dd.advance(b0)
    assert dd._feat_cache is None
    assert not feats.is_cached and not banded.is_cached
    # filter-without-advance then another filter: stale pins released too
    dd.filter_batch(b1)
    _, feats1, banded1 = dd._feat_cache
    dd.filter_batch(b1)
    assert not feats1.is_cached and not banded1.is_cached


def _py_seen_keep(docs, threshold=0.8, num_hashes=16, bands=4, ngram=5):
    """Pure-Python mirror of the seen_dedup semantics: keep doc iff no
    earlier doc is an exact dup or an LSH-band candidate with >= threshold
    signature agreement. Same md5 formulas as the engine."""
    import hashlib
    import math
    import re

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def feats(text):
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        sh = []
        seen = set()
        if len(norm) >= ngram:
            for i in range(len(norm) - ngram + 1):
                g = norm[i:i + ngram]
                if g not in seen:
                    seen.add(g)
                    sh.append(g)
        chash = md5(text)
        if not sh:
            return chash, None, None
        sig = [min(md5(f"h{i}:{s}") for s in sh) for i in range(num_hashes)]
        rpb = num_hashes // bands
        bh = [(b, md5("".join(sig[b * rpb:(b + 1) * rpb])))
              for b in range(bands)]
        return chash, sig, bh

    mm = int(math.ceil(threshold * num_hashes - 1e-9))
    kept, seen_feats = [], []
    for doc_id, text in sorted(docs):
        chash, sig, bh = feats(text)
        dup = False
        for (c2, s2, b2) in seen_feats:
            if c2 == chash:
                dup = True
                break
            if sig is not None and b2 is not None and \
                    set(bh) & set(b2) and \
                    sum(1 for x, y in zip(sig, s2) if x == y) >= mm:
                dup = True
                break
        if not dup:
            kept.append(doc_id)
        seen_feats.append((chash, sig, bh))
    return set(kept)


def test_seen_dedup_matches_python_model(spark, tmp_table_path):
    """Randomized model check: seen_dedup AND the two-batch incremental
    path both reproduce a brute-force O(n^2) Python implementation of the
    same md5/MinHash math on a corpus dense with near-duplicates."""
    import random

    rng = random.Random(20260815)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = []
    base_texts = [" ".join(rng.choices(vocab, k=rng.randint(2, 12)))
                  for _ in range(12)]
    for i in range(40):
        t = rng.choice(base_texts)
        r = rng.random()
        if r < 0.3:
            t = t + " " + rng.choice(vocab)      # near copy
        elif r < 0.5:
            t = " ".join(rng.choices(vocab, k=rng.randint(2, 12)))  # fresh
        docs.append((i, t))
    expected = _py_seen_keep(docs)

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r.doc_id for r in
           HF.seen_dedup(df, "doc_id", "text", threshold=0.8)
           .select("doc_id").collect()}
    assert got == expected

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_model",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    for batch in (df.filter("doc_id < 20"), df.filter("doc_id >= 20")):
        tbl.upsert(dd.filter_batch(batch))
        dd.advance(batch)
    inc = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert inc == expected


def test_incremental_dedup_on_mor_table(spark, corpus, tmp_table_path):
    """Deduper over a MERGE_ON_READ table: the catch-up backfill reads
    through delta logs (incremental over deltacommits), and the final
    state still equals the batch-global keep-set."""
    from hoodie_spark.config import TableType

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_mor",
                             ["doc_id"], None,
                             table_type=TableType.MERGE_ON_READ)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0, b1, b2 = _batches(corpus)
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    shutil.rmtree(dd.dir)  # lose state: catch_up must read the MOR table
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    for b in (b1, b2):
        tbl.upsert(dd2.filter_batch(b))
        dd2.advance(b)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)


def test_ingestor_compacts_state_periodically(spark, corpus,
                                              tmp_table_path):
    """Long-running ingest folds the per-batch state appends every
    compact_state_every batches, bounding state file counts, without
    changing decisions."""
    import glob
    import os

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_cse",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    ing = Ingestor(tbl, _ListSource(_batches(corpus)), deduper=dd,
                   compact_state_every=2)
    ing.run_continuous(3)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == _global_keep(corpus)
    # after the fold each bucket dir holds ONE file (batches 1-2 folded,
    # batch 3 appended one more)
    for bucket_dir in glob.glob(os.path.join(dd.dir, "content", "bucket=*")):
        n = len([f for f in os.listdir(bucket_dir) if f.endswith(".parquet")])
        assert n <= 2, f"{bucket_dir} has {n} files"


def test_rollback_invalidates_seen_state(spark, corpus, tmp_table_path):
    """Restoring the table to a savepoint removes rows whose signatures
    state still carries; re-ingesting those docs must be KEPT (rebuild on
    rollback), never falsely dropped — the one forbidden direction."""
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_rb",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = _batches(corpus)[0]
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    n0 = tbl.snapshot().count()
    sp = tbl.timeline.last_completed().timestamp
    tbl.savepoint(sp)
    fresh = spark.range(50000, 50020).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("entirely novel content item number "),
                 F.col("id").cast("string"),
                 F.lit(" with its own distinct vocabulary payload "),
                 F.md5(F.col("id").cast("string"))).alias("text"))
    tbl.upsert(dd.filter_batch(fresh))
    dd.advance(fresh)
    assert tbl.snapshot().count() == n0 + 20
    tbl.restore(sp)  # fresh docs gone from the table, still in state
    assert tbl.snapshot().count() == n0
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    kept = dd2.filter_batch(fresh)  # catch_up must rebuild, not false-drop
    assert kept.count() == fresh.count()
    tbl.upsert(kept)
    dd2.advance(fresh)
    # and batch-0 duplicates are still recognized after the rebuild
    assert dd2.filter_batch(b0.limit(10)).count() == 0


def test_null_text_never_duplicate(spark, tmp_table_path):
    """NULL text has no content hash: such rows are never duplicates — of
    each other or of anything seen — and the batch-incremental path agrees
    with the one-pass global seen_dedup on them (r10 advice: the exact-dup
    window used to group NULL chashes while the state probe's equi-join
    never matched NULL, splitting the two paths)."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, None), (3, None),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    glob = {r.doc_id for r in
            HF.seen_dedup(df, "doc_id", "text", threshold=0.8).collect()}
    assert glob == {1, 2, 3, 5}  # every null-text row kept, the copy drops
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_null",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    # batch 0 = {1,2,3} (seeds a null in state), batch 1 = {4,5}: doc 4 is
    # an exact dup of seen doc 1, doc 5 a null-text arriving AFTER nulls
    # were registered as seen — it must still be kept
    for lo, hi in ((0, 4), (4, 6)):
        b = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        tbl.upsert(dd.filter_batch(b))
        dd.advance(b)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == glob


_DISTINCT = [
    "the quick brown fox jumps over the lazy dog near the riverbank",
    "pack my box with five dozen liquor jugs before the long journey",
    "sphinx of black quartz judge my vow under the desert moonlight",
    "how vexingly quick daft zebras jump across the frozen meadow",
    "crazy fredrick bought many very exquisite opal jewels yesterday",
    "we promptly judged antique ivory buckles for the next big prize",
]


def test_compact_state_retention_window(spark, tmp_table_path):
    """compact_state(retain_after=t) turns the deduper into a sliding
    window: signatures last seen before t are evicted (their duplicates
    re-admitted — the allowed direction), signatures at/after t still
    drop duplicates."""
    tbl = HoodieTable.create(spark, tmp_table_path, "ret", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = spark.createDataFrame(
        [(i, _DISTINCT[i]) for i in range(3)], "doc_id int, text string")
    b1 = spark.createDataFrame(
        [(10 + i, _DISTINCT[3 + i]) for i in range(3)],
        "doc_id int, text string")
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    t0 = tbl.timeline.last_completed().timestamp
    tbl.upsert(dd.filter_batch(b1))
    dd.advance(b1)
    t1 = tbl.timeline.last_completed().timestamp
    assert t0 < t1
    dd.compact_state(retain_after=t1)
    # exact copies under fresh ids: b0's signatures were evicted, b1's kept
    copy0 = b0.withColumn("doc_id", F.col("doc_id") + 1000)
    copy1 = b1.withColumn("doc_id", F.col("doc_id") + 1000)
    assert dd.filter_batch(copy0).count() == 3
    dd._release_pins()
    assert dd.filter_batch(copy1).count() == 0
    dd._release_pins()


def test_compact_state_retention_keeps_unknown_age(spark, tmp_table_path):
    """State generations written before seen_at existed surface NULL age
    and are conservatively retained by a retention compact (extra drops
    of true duplicates are allowed; false drops are not — and eviction
    of a doc actually still in the window would be silent under-dedup)."""
    import os

    tbl = HoodieTable.create(spark, tmp_table_path, "leg", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = spark.createDataFrame(
        [(i, _DISTINCT[i]) for i in range(3)], "doc_id int, text string")
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    t0 = tbl.timeline.last_completed().timestamp
    # simulate a pre-seen_at generation: rewrite both stores without it
    for sub, schema in (("content", "chash string, bucket int"),
                        ("bands", "band int, bh string, "
                                  "minhash array<string>, bucket int")):
        d = dd.store.live(sub)
        rows = spark.read.option("basePath", d).parquet(d) \
            .drop("seen_at").collect()
        dd.fs.rmtree(d)
        spark.createDataFrame(rows, schema) \
            .write.partitionBy("bucket").mode("overwrite").parquet(d)
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    dd2.compact_state(retain_after=t0 + "z")  # later than every instant
    copy0 = b0.withColumn("doc_id", F.col("doc_id") + 1000)
    assert dd2.filter_batch(copy0).count() == 0  # NULL-age rows retained
    dd2._release_pins()


def test_ingestor_state_retention_window(spark, tmp_table_path):
    """Ingestor(state_retention_instants=N): periodic compaction also
    evicts signatures last seen more than N completed instants ago, so a
    duplicate of an aged-out batch is re-admitted by a later batch."""
    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_ret",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = spark.createDataFrame(
        [(i, _DISTINCT[i]) for i in range(3)], "doc_id int, text string")
    b1 = spark.createDataFrame(
        [(10 + i, _DISTINCT[3 + i]) for i in range(3)],
        "doc_id int, text string")
    # b2 re-sends b0's texts under fresh ids AFTER b0 aged out
    b2 = b0.withColumn("doc_id", F.col("doc_id") + 1000)
    ing = Ingestor(tbl, _ListSource([b0, b1, b2]), deduper=dd,
                   compact_state_every=2, state_retention_instants=1)
    ing.run_continuous(3)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    # the aged-out duplicates (1000-1002) were ADMITTED; b1 rows kept
    assert {1000, 1001, 1002} <= got and {10, 11, 12} <= got


def test_restore_across_retention_eviction_rebuilds(spark, tmp_table_path):
    """Restore to a savepoint taken BEFORE a compact_state(retain_after=)
    eviction horizon: the restore re-runs rebuild(), and the
    rebuilt state must match the RESTORED table content — the evicted
    batch-0 signatures come back (their docs are in the restored table, so
    their duplicates drop again) and the restored-away docs are re-admitted
    (never falsely dropped). This pins the one untested caller of the
    rebuild path: the restore chain interacting with retention eviction."""
    tbl = HoodieTable.create(spark, tmp_table_path, "ret_restore",
                             ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = spark.createDataFrame(
        [(i, _DISTINCT[i]) for i in range(3)], "doc_id int, text string")
    b1 = spark.createDataFrame(
        [(10 + i, _DISTINCT[3 + i]) for i in range(3)],
        "doc_id int, text string")
    tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    sp = tbl.timeline.last_completed().timestamp
    tbl.savepoint(sp)
    tbl.upsert(dd.filter_batch(b1))
    dd.advance(b1)
    t1 = tbl.timeline.last_completed().timestamp
    dd.compact_state(retain_after=t1)  # horizon AFTER the savepoint
    # eviction really happened: b0's signatures aged out, its dups re-admit
    copy0 = b0.withColumn("doc_id", F.col("doc_id") + 1000)
    assert dd.filter_batch(copy0).count() == 3
    dd._release_pins()
    tbl.restore(sp)  # b1 gone from the table; state says b1 seen, b0 not
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    # catch_up detects restore > watermark and rebuilds from the restored
    # table: b0 (in the restored table) is seen again despite the earlier
    # eviction, so its duplicates drop...
    assert dd2.filter_batch(copy0).count() == 0
    dd2._release_pins()
    # ...and b1 (restored away) is re-admitted — kept, never false-dropped
    kept1 = dd2.filter_batch(b1)
    assert kept1.count() == 3
    tbl.upsert(kept1)
    dd2.advance(b1)
    got = {r.doc_id for r in tbl.snapshot().select("doc_id").collect()}
    assert got == {0, 1, 2, 10, 11, 12}


def test_second_concurrent_maintainer_fails_cleanly(spark, corpus,
                                                    tmp_table_path):
    """Single-maintainer contract (round-12 verdict task #6): maintained
    states have no multi-writer story, so a SECOND maintainer folding the
    same state dir must fail with a clean error while the first holds the
    fold lock — never interleave publishes."""
    from hoodie_spark.streaming import ConcurrentMaintainerError, \
        maintainer_lock

    tbl = HoodieTable.create(spark, tmp_table_path, "inc_dedup_lock",
                             ["doc_id"], "doc_id", partition_expr="'p'")
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    tbl.insert(corpus.filter(F.col("doc_id") < 1000))
    # a rival maintainer (another process in real life) holds the fold
    # lock; catch_up on a second instance must error, not corrupt
    with maintainer_lock(tbl.storage, dd.dir):
        rival = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
        with pytest.raises(ConcurrentMaintainerError):
            rival.catch_up()
    # lock released — the legitimate maintainer proceeds normally
    assert dd.catch_up() >= 0


# ----------------------------------------------- rebuild after a crash
_BODIES = [
    "the quick brown fox jumps over the lazy dog near the riverbank",
    "pack my box with five dozen liquor jugs before the long journey",
    "sphinx of black quartz judge my vow under the desert moonlight",
    "how vexingly quick daft zebras jump across the frozen meadow",
    "crazy fredrick bought many very exquisite opal jewels yesterday",
    "we promptly judged antique ivory buckles for the next big prize",
]

_BODIES2 = [
    "distributed query engines shuffle partitioned data between stages",
    "columnar storage formats prune row groups with min max statistics",
    "broadcast joins ship the small dimension to every executor core",
    "watermarks bound state retention for late arriving event streams",
    "vectorized readers decode parquet pages straight into arrow arrays",
    "adaptive execution replans skewed joins at shuffle boundaries",
]


def _bodies(spark, bodies, start=0):
    rows = [(start + i, b) for i, b in enumerate(bodies)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_rebuild_clears_crashed_compact_generation(spark, tmp_table_path,
                                                   monkeypatch):
    """Crash a compact_state AFTER its gen-N+1 parquet write but BEFORE
    the pointer publish, then roll back the table: the rebuild must not
    append onto (and publish) the stale pre-rollback copy sitting at the
    generation it bumps into — rolled-back docs must be re-admittable."""
    tbl = HoodieTable.create(spark, tmp_table_path, "rbgen", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = _bodies(spark, _BODIES)
    res = tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    monkeypatch.setattr(GenerationStore, "publish", _crash_publish)
    with pytest.raises(RuntimeError):
        dd.compact_state()  # gen-000001 parquet written, pointer still gen-0
    monkeypatch.undo()

    tbl.rollback(res.instant)  # invalidates every seen signature
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    kept = dd2.filter_batch(b0)  # catch_up -> rollback seen -> rebuild
    # rebuild from an EMPTY table: nothing is "seen", all docs re-admitted
    assert kept.count() == b0.count()


def test_uncapped_band_group_warns(spark, tmp_table_path, caplog):
    """The uncapped in-batch near-dup self-join logs a warning when a
    (band, bh) group exceeds warn_band_rows."""
    import logging

    tbl = HoodieTable.create(spark, tmp_table_path, "warn", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8,
                            warn_band_rows=3)
    same = spark.createDataFrame(
        [(i, "identical body text long enough to produce minhash bands")
         for i in range(8)], "doc_id int, text string")
    with caplog.at_level(logging.WARNING,
                         logger="hoodie_spark.streaming.incremental_dedup"):
        kept = dd.filter_batch(same)
        n = kept.count()
    assert n == 1  # correctness unchanged: one survivor
    assert any("max_band_rows" in r.message for r in caplog.records)
    dd._release_pins()
    # capped deduper: no warning (the hazard is bounded)
    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8,
                             warn_band_rows=3, max_band_rows=4)
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="hoodie_spark.streaming.incremental_dedup"):
        dd2.filter_batch(same).count()
    assert not any("max_band_rows" in r.message for r in caplog.records)
    dd2._release_pins()


def test_compact_state_counts_inside_write(spark, tmp_table_path,
                                           monkeypatch):
    """The retained-row count comes from an Observation on the write job
    — compact_state never re-evaluates the fold via DataFrame.count()."""
    tbl = HoodieTable.create(spark, tmp_table_path, "cs12", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = _bodies(spark, _BODIES)
    tbl.insert(dd.filter_batch(b0))
    dd.advance(b0)
    calls = []
    # patch the concrete class: pyspark.sql.DataFrame is its abstract base
    frame_cls = type(b0)
    orig = frame_cls.count
    monkeypatch.setattr(
        frame_cls, "count",
        lambda self: (calls.append(1), orig(self))[1])
    n = dd.compact_state()
    assert calls == [], "compact_state re-evaluated the fold via count()"
    content = spark.read.parquet(dd.store.live("content")).count()
    bands = spark.read.parquet(dd.store.live("bands")).count()
    assert n == content + bands > 0


def test_restore_past_eviction_horizon_rebuilds_to_table(
        spark, tmp_table_path):
    """restore() to a savepoint BEFORE a retention-evicted batch must
    rebuild dedup state to match the restored table: duplicates of
    restored docs still drop, duplicates of rolled-back docs re-admit."""
    tbl = HoodieTable.create(spark, tmp_table_path, "rr12", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    b0 = _bodies(spark, _BODIES, 0)
    r0 = tbl.upsert(dd.filter_batch(b0))
    dd.advance(b0)
    tbl.savepoint(r0.instant)
    b1 = _bodies(spark, _BODIES2, 100)
    r1 = tbl.upsert(dd.filter_batch(b1))
    dd.advance(b1)
    # evict every signature last seen before r1 (i.e. all of b0's)
    dd.compact_state(retain_after=r1.instant)
    tbl.restore(r0.instant)  # table content back to b0 only

    dd2 = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    probe = (_bodies(spark, _BODIES, 500)  # dups of restored content
             .unionByName(_bodies(spark, _BODIES2, 600)))  # dups of undone b1
    kept = {r.doc_id for r in dd2.filter_batch(probe).collect()}
    assert kept == {600 + i for i in range(len(_BODIES2))}, (
        "rebuilt state diverges from restored table content")
    # and the rebuilt snapshot really is b0-only
    assert {r.doc_id for r in tbl.snapshot().select("doc_id").collect()} \
        == {i for i in range(len(_BODIES))}


def test_retention_window_counts_data_instants_only(
        spark, tmp_table_path, monkeypatch):
    """A savepoint between batches must NOT consume a slot of the
    'N completed data instants' retention window: retain_after is the
    N-th-newest DATA instant, not the N-th-newest instant of any kind."""
    tbl = HoodieTable.create(spark, tmp_table_path, "ret12", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    captured = []
    real = dd.compact_state
    monkeypatch.setattr(
        dd, "compact_state",
        lambda retain_after=None: (captured.append(retain_after),
                                   real(retain_after=retain_after))[1])
    batches = [_bodies(spark, _BODIES, 0), _bodies(spark, _BODIES2, 100),
               _bodies(spark, [b + " tail variant" for b in _BODIES], 200)]
    ing = Ingestor(tbl, _ListSource(batches), operation="insert",
                   deduper=dd, compact_state_every=1,
                   state_retention_instants=2)
    ing.sync_once()
    ing.sync_once()
    assert captured[-1] is None  # only 2 data instants: window not exceeded
    tbl.savepoint()  # non-data instant lands between i2 and i3
    ing.sync_once()
    from hoodie_spark import timeline as tl
    data = tbl.timeline.completed(tl.DATA_ACTIONS)
    every = tbl.timeline.completed()
    assert len(data) == 3 and len(every) == 4
    # window of 2 over DATA instants -> retain from the 2nd-newest data
    # instant; the buggy all-actions version would return the savepoint's
    # timestamp here (one instant too new -> window silently shrinks)
    assert captured[-1] == data[-2].timestamp
    assert captured[-1] != every[-2].timestamp
