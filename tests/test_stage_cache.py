"""Pinned-frame ownership: every frame an operator persists is released
when the caller drops the result (or calls ``release()``), never left for
Spark's LRU to reclaim."""

import gc
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from hoodie_spark import functions as HF


def _pinned(sc) -> int:
    """Persisted RDDs, less the local checkpoints of duplicate_groups
    (those belong to Spark's ContextCleaner, freed on JVM GC)."""
    rdds = sc._jsc.getPersistentRDDs()
    return sum(1 for k in rdds.keySet()
               if not rdds[k].rdd().isLocallyCheckpointed())


def _docs(s):
    return (s.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 300))


def _emb(s):
    return (s.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") < 300))


# operator -> (its call, whether the result holds pinned frames). The
# operators that resolve their pairs into duplicate groups release their
# pins before returning: duplicate_groups checkpoints the pairs, so
# nothing downstream reads a pinned frame again.
_OPS = {
    "seen_dedup": (lambda s: HF.seen_dedup(_docs(s), "doc_id", "text"),
                   True),
    "minhash_candidate_pairs": (lambda s: HF.minhash_candidate_pairs(
        _docs(s), "doc_id", "text"), True),
    "sig_near_pairs": (lambda s: HF.sig_near_pairs(
        _docs(s), "doc_id", "text"), True),
    "jaccard_dedup_pairs": (lambda s: HF.jaccard_dedup_pairs(
        _docs(s), "doc_id", "text"), True),
    "edit_dedup_pairs": (lambda s: HF.edit_dedup_pairs(
        _docs(s), "doc_id", "text"), True),
    "containment_dedup_pairs": (lambda s: HF.containment_dedup_pairs(
        _docs(s), "doc_id", "text"), True),
    "simhash_dup_pairs": (lambda s: HF.simhash_dup_pairs(
        _docs(s), "doc_id", "text"), True),
    "embedding_near_dup_pairs": (lambda s: HF.embedding_near_dup_pairs(
        _emb(s), "vec_id", "embedding", dim=64), True),
    "perplexity_buckets": (lambda s: HF.perplexity_buckets(
        _docs(s), "doc_id", "text"), True),
    "semantic_dedup": (lambda s: HF.semantic_dedup(
        _emb(s), "vec_id", "embedding", n_clusters=4), False),
    "dedup_keep_best": (lambda s: HF.dedup_keep_best(
        _docs(s).withColumn("score", F.length("text")),
        "doc_id", "text", "score"), False),
    "leakage_safe_split": (lambda s: HF.leakage_safe_split(
        _docs(s), "doc_id", "text"), False),
    "decontaminate_near": (lambda s: HF.decontaminate_near(
        _docs(s).filter(F.col("doc_id") % 20 != 0),
        _docs(s).filter(F.col("doc_id") % 20 == 0), "doc_id", "text"),
        False),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_pinned_frames_released_with_the_result(spark, op):
    call, holds = _OPS[op]
    sc = spark.sparkContext
    gc.collect()
    base = _pinned(sc)
    result = call(spark)
    result.count()  # an action while the caller holds the result
    if holds:
        assert _pinned(sc) > base
    else:
        assert _pinned(sc) == base
    del result
    gc.collect()
    assert _pinned(sc) == base


def test_release_before_drop(spark):
    """``release()`` unpersists while the result is still held; the
    result stays correct, only a recompute is paid."""
    sc = spark.sparkContext
    gc.collect()
    base = _pinned(sc)
    pairs = HF.minhash_candidate_pairs(_docs(spark), "doc_id", "text")
    n = pairs.count()
    assert _pinned(sc) > base
    pairs._stage_cache.release()
    assert _pinned(sc) == base
    assert pairs.count() == n


def test_corpus_pipeline_cache_is_caller_scoped(spark, tmp_table_path):
    """The stage-boundary persist is held by a StageCache tied to the
    RESULT's lifetime (no module-global state): explicit release()
    unpersists, and dropping the result releases via GC."""
    from hoodie_spark.functions import pipeline as P
    from hoodie_spark.streaming.transform import CorpusPipelineTransformer

    assert not hasattr(P, "_last_pipeline_cache")  # global is gone
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    test = docs.filter("doc_id % 20 = 0")
    corpus = docs.filter("doc_id % 20 != 0")
    tp = os.path.join(tmp_table_path, "eval")
    test.write.parquet(tp)
    t = CorpusPipelineTransformer(tp)
    r1 = t.apply(spark, corpus)
    r1.count()  # the batch action materializes it
    cache1 = r1._stage_cache
    frames1 = list(cache1._frames)
    assert frames1 and all(f.is_cached for f in frames1)
    # a second concurrent result holds its OWN cache, both stay live
    r2 = t.apply(spark, corpus)
    r2.count()
    assert r2._stage_cache is not cache1
    assert all(f.is_cached for f in frames1)
    cache1.release()
    assert not any(f.is_cached for f in frames1)
    frames2 = list(r2._stage_cache._frames)
    del r2
    gc.collect()
    assert not any(f.is_cached for f in frames2)  # GC released the handle
