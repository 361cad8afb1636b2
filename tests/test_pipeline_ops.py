"""Tests for PII redaction, deterministic sampling, shard packing and
corpus n-gram frequency (hoodie_spark.functions.pipeline)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from hoodie_spark import functions as HF

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


# -------------------------------------------------------------------- pii
def test_redact_pii_scrubs_known_shapes(spark):
    rows = spark.createDataFrame([
        (1, "mail me at jane.doe+x@example.co.uk please"),
        (2, "card 1234-5678-9012-3456 and ssn 123-45-6789"),
        (3, "call +1 555-123-4567 from 192.168.0.1"),
        (4, "no pii here"),
    ], ["id", "text"])
    got = {r.id: r.red for r in rows.select(
        "id", HF.redact_pii("text").alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> please"
    assert got[2] == "card <CARD> and ssn <SSN>"
    assert got[3] == "call <PHONE> from <IP" + "V4>"
    assert got[4] == "no pii here"
    hits = {r.id: r.n for r in rows.select(
        "id", HF.pii_hits("text").alias("n")).collect()}
    assert hits == {1: 1, 2: 2, 3: 2, 4: 0}


def test_redact_pii_does_not_double_count_nested(spark):
    # a card number contains phone/ssn-like substrings; the ordered
    # application must count it once as card
    rows = spark.createDataFrame([(1, "1111-2222-3333-4444")], ["id", "t"])
    assert rows.select(HF.pii_hits("t")).first()[0] == 1


# --------------------------------------------------------- deterministic sample
def test_deterministic_sample_stable_and_unbiased(docs):
    a = HF.deterministic_sample(docs, "doc_id", keep=16, out_of=64)
    b = HF.deterministic_sample(docs.repartition(7), "doc_id",
                                keep=16, out_of=64)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b          # partition-layout invariant
    n, total = len(ids_a), docs.count()
    assert 0.15 < n / total < 0.35  # ~25% +- sampling noise

    # matches the reference hash exactly
    some = ids_a[0]
    h = int(hashlib.md5(str(some).encode()).hexdigest()[:4], 16)
    assert h % 64 < 16


def test_deterministic_sample_splits_are_disjoint(docs):
    train = HF.deterministic_sample(docs, "doc_id", keep=48, out_of=64)
    val = docs.exceptAll(train)
    assert train.count() + val.count() == docs.count()
    assert train.join(val, "doc_id", "inner").count() == 0


def test_deterministic_sample_validates_out_of(docs):
    with pytest.raises(ValueError):
        HF.deterministic_sample(docs, "doc_id", keep=1, out_of=1000)


# ------------------------------------------------------------- shard packing
def test_pack_shards_matches_sequential_model(docs):
    budget = 2000.0
    df = docs.select("doc_id", HF.token_count("text").alias("w"))
    out = HF.pack_shards(df, "w", budget, ["doc_id"], num_buckets=8)
    got = {r.doc_id: r.shard_id for r in out.collect()}

    rows = sorted(df.collect(), key=lambda r: r.doc_id)
    cum = 0.0
    for r in rows:
        assert got[r.doc_id] == int(cum // budget), r.doc_id
        cum += r.w


def test_pack_shards_budget_overshoot_bounded(docs):
    budget = 1500.0
    df = docs.select("doc_id", HF.token_count("text").alias("w"))
    out = HF.pack_shards(df, "w", budget, ["doc_id"], num_buckets=4)
    per = (out.groupBy("shard_id").agg(F.sum("w").alias("tot"),
                                       F.max("w").alias("mx")).collect())
    n_shards = len(per)
    assert n_shards > 1
    for r in per:
        # a shard never exceeds budget by more than its last (<= max) row
        assert r.tot <= budget + r.mx


def test_pack_shards_single_value_order_key(spark):
    df = spark.createDataFrame([(1, 10.0)] * 5, ["k", "w"])
    out = HF.pack_shards(df, "w", 25.0, ["k"], num_buckets=16)
    assert out.count() == 5  # degenerate span: single bucket, still packs


# The budget family shares one distributed prefix sum (pipeline.
# _running_total): each operator's answer must not depend on the bucket
# count or the input partitioning. A case is its (k, w) rows and its
# budget: sf0.001 documents, a NULL first order key (it sorts first, so it
# bins with the smallest keys) and a bucket whose weights are all NULL.
_BUDGET_CASES = {
    "corpus": (None, 8000),
    "null_lead": ([(1, 10), (2, 5), (None, 3), (4, 7)], 15),
    "null_bin": ([(1, 2), (150, None), (300, 4)], 3),
}
_BUDGET_OPS = {
    "pack_shards": lambda df, n, b: HF.pack_shards(
        df, "w", float(b), ["k", "doc_id"], num_buckets=n),
    "pack_sequences": lambda df, n, b: HF.pack_sequences(
        df, "w", 4, ["k", "doc_id"], num_buckets=n),
    "token_budget_select": lambda df, n, b: HF.token_budget_select(
        df, "w", b, ["k", "doc_id"], num_buckets=n),
    "perplexity_buckets": lambda df, n, b: HF.perplexity_buckets(
        df, "doc_id", "text", num_bins=n),
}


@pytest.mark.parametrize("num_buckets", [1, 3, 256])
@pytest.mark.parametrize("op,case", [
    *((op, case) for op in _BUDGET_OPS if op != "perplexity_buckets"
      for case in _BUDGET_CASES),
    ("perplexity_buckets", "corpus")])
def test_budget_family_matches_single_bucket(spark, op, case, num_buckets):
    rows, budget = _BUDGET_CASES[case]
    if rows is None:
        df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
              .select("doc_id", "text", F.length("text").alias("k"),
                      HF.token_count(F.col("text")).cast("long")
                      .alias("w")))
    else:
        df = spark.createDataFrame(
            [(i, k, w) for i, (k, w) in enumerate(rows)],
            "doc_id long, k long, w long")
    run = _BUDGET_OPS[op]
    want = sorted(map(tuple, run(df.repartition(1), 1, budget).collect()),
                  key=repr)
    got = run(df.repartition(17), num_buckets, budget)
    assert sorted(map(tuple, got.collect()), key=repr) == want
    assert len(want) > 0
    # no single-task global sort: every Exchange is keyed, the prefix
    # sum runs per order-contiguous bucket (one bucket is one task)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange SinglePartition" in plan) == (num_buckets == 1)


@pytest.mark.parametrize("call,match", [
    (lambda df: HF.pack_shards(df, "w", 0, ["k"]), "budget"),
    (lambda df: HF.pack_sequences(df, "w", 0, ["k"]), "seq_len"),
    (lambda df: HF.perplexity_buckets(df, "doc_id", "text", n_buckets=0),
     "n_buckets"),
    (lambda df: HF.token_budget_select(df, "w", 10, ["text"]), "numeric"),
    (lambda df: HF.pack_shards(df, "w", 10.0, ["text"]), "numeric"),
    (lambda df: HF.pack_sequences(df, "w", 4, ["text"]), "numeric"),
], ids=["pack_shards_budget", "pack_sequences_seq_len",
        "perplexity_buckets_n_buckets", "token_budget_select_lead",
        "pack_shards_lead", "pack_sequences_lead"])
def test_budget_family_checks_arguments_at_entry(spark, call, match):
    """Bad arguments raise ValueError before any Spark job runs, not a
    lazy [DIVIDE_BY_ZERO] or a silent one-bucket answer."""
    df = spark.createDataFrame([(1, 3, "a b c")],
                               "doc_id long, w long, text string")
    df = df.withColumn("k", F.col("doc_id"))
    sc = spark.sparkContext
    sc.setJobGroup("budget_family_args", "argument checks")
    try:
        with pytest.raises(ValueError, match=match):
            call(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("budget_family_args") == []


# ------------------------------------------------------------- filter corpus
def test_filter_corpus_gates_compose(docs):
    kept = HF.filter_corpus(docs, "text", langs=["en", "und"],
                            min_quality=0.3, min_tokens=5,
                            max_tokens=100000, max_pii_hits=0)
    n, total = kept.count(), docs.count()
    assert 0 < n <= total
    # every survivor satisfies every gate
    chk = kept.select(
        HF.lang_id("text").alias("l"),
        F.round(HF.quality_score("text"), 6).alias("q"),
        HF.token_count("text").alias("t"),
        HF.pii_hits("text").alias("p")).collect()
    for r in chk:
        assert r.l in ("en", "und") and r.q >= 0.3 and r.t >= 5 and r.p == 0


def test_filter_corpus_no_gates_is_identity(docs):
    assert HF.filter_corpus(docs, "text").count() == docs.count()


# --------------------------------------------------------- embedding projection
def test_random_projection_matches_numpy(spark):
    import numpy as np
    from hoodie_spark.functions.similarity import _plane_matrix

    dim, out = 16, 4
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)])
            for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {r.id: [r.p0, r.p1, r.p2, r.p3] for r in df.select(
        "id", *HF.random_projection(F.col("v"), out, dim)).collect()}
    mat = np.array(_plane_matrix(out, dim))
    for i, v in rows:
        exp = mat @ np.array(v)
        assert np.allclose(got[i], exp)


def test_normalize_unit_norm_and_zero_safe(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])],
                               ["id", "v"])
    out = {r.id: r.n for r in df.select(
        "id", HF.normalize(F.col("v")).alias("n")).collect()}
    assert out[1] == [0.6, 0.8]
    assert out[2] == [0.0, 0.0]


# ---------------------------------------------------------------- top ngrams
def test_top_ngrams_deterministic_topk(docs):
    a = HF.top_ngrams(docs, "text", n=4, k=10).collect()
    b = HF.top_ngrams(docs.repartition(5), "text", n=4, k=10).collect()
    assert [(r.ngram, r.df) for r in a] == [(r.ngram, r.df) for r in b]
    dfs = [r.df for r in a]
    assert dfs == sorted(dfs, reverse=True) and len(a) == 10


# ----------------------------------------------------------- decontamination
def test_decontaminate(spark):
    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  Quick\tBrown FOX is here"),   # normalization must catch it
        (3, "completely unrelated words only here today"),
        (4, "tiny doc"),                         # shorter than n -> no grams
    ], ["doc_id", "text"])
    test_set = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")], ["doc_id", "text"])

    bad = {r.doc_id for r in
           HF.contaminated_ids(corpus, test_set, n=4).collect()}
    assert bad == {1, 2}  # 'the quick brown fox' leaks, case/ws-insensitive
    clean = HF.decontaminate(corpus, test_set, n=4)
    assert {r.doc_id for r in clean.collect()} == {3, 4}
    # n larger than every doc: nothing contaminated, nothing dropped
    assert HF.decontaminate(corpus, test_set, n=50).count() == 4
    # empty test set: corpus passes through
    assert HF.decontaminate(corpus, test_set.limit(0), n=4).count() == 4


def test_stratified_sample(docs, spark):
    out = HF.stratified_sample(docs, "lang", "doc_id", 10)
    counts = {r.lang: r["count"] for r in
              out.groupBy("lang").count().collect()}
    assert all(c == 10 for c in counts.values())
    # deterministic across partitionings
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(r.doc_id for r in HF.stratified_sample(
        docs.repartition(7), "lang", "doc_id", 10).select("doc_id").collect())
    assert a == b
    # quota above stratum size returns the whole stratum
    n_by_lang = {r.lang: r["count"] for r in
                 docs.groupBy("lang").count().collect()}
    full = HF.stratified_sample(docs, "lang", "doc_id", 10 ** 6)
    assert full.count() == sum(n_by_lang.values())


def test_corpus_pipeline_composition(spark, docs, tmp_path):
    """The end-to-end recipe: every output doc passed the gate, survived
    dedup + decontamination, respects the per-lang quota, and shard ids
    are the sequential prefix-sum model over the survivors."""
    test = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    out = HF.corpus_pipeline(corpus, test).cache()
    rows = out.orderBy("doc_id").collect()
    assert len(rows) > 0
    # per-lang quota respected
    per_lang = out.groupBy("lang").count().collect()
    assert all(r["count"] <= 25 for r in per_lang)
    # no output doc shares a word 4-gram with the eval split
    bad = HF.contaminated_ids(
        corpus.join(out.select("doc_id"), "doc_id", "left_semi"),
        test, n=4)
    assert bad.count() == 0
    # no two output docs share identical text
    texts = (docs.join(out.select("doc_id"), "doc_id", "left_semi")
             .groupBy("text").count().filter("count >= 2").count())
    assert texts == 0
    # shard ids match the sequential prefix-sum model in doc_id order
    acc = 0.0
    for r in rows:
        assert r["shard_id"] == int(acc // 2000.0), r
        acc += float(r["n_tokens"])
    out.unpersist()

    # the same recipe runs as an ingest transformer
    from hoodie_spark.streaming.transform import CorpusPipelineTransformer
    tp = str(tmp_path / "eval")
    test.write.parquet(tp)
    t_out = CorpusPipelineTransformer(tp).apply(spark, corpus)
    assert {(r[0], r[3]) for r in t_out.collect()} == \
        {(r["doc_id"], r["shard_id"]) for r in rows}


def test_chunk_documents_sliding_windows(spark):
    """Hand-checked boundaries: 10 words, chunk 4, overlap 1 (stride 3)
    -> starts 0,3,6 covering every token; short docs yield one chunk."""
    df = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"), (2, "a b")],
        "doc_id int, text string")
    out = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
           for r in HF.chunk_documents(df, "doc_id", "text",
                                       chunk_tokens=4, overlap=1).collect()}
    assert out[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert out[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert out[(2, 0)] == ("a b", 2)
    assert len(out) == 4
    # consecutive chunks share exactly `overlap` words
    assert out[(1, 0)][0].split()[-1] == out[(1, 1)][0].split()[0]
    with pytest.raises(ValueError, match="exceed overlap"):
        HF.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_unigram_logprob_orders_quality(spark, docs):
    """Common-word docs must outscore gibberish per token, totals are
    finite, and n_tokens matches the tokenizer."""
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the end"),
         (2, "zxqv jkwp qqzz xvbn mmlk zzpq wwee rrtt")],
        "doc_id int, text string")
    both = docs.select("doc_id", "text").union(
        df.withColumn("doc_id", F.col("doc_id") + 1000000))
    out = {r["doc_id"]: r for r in
           HF.unigram_logprob(both, "doc_id", "text").collect()}
    common, gibberish = out[1000001], out[1000002]
    assert common["n_tokens"] == 8 and gibberish["n_tokens"] == 8
    # per-token logprob: common English words beat OOV gibberish
    assert common["logprob"] / common["n_tokens"] > \
        gibberish["logprob"] / gibberish["n_tokens"]
    assert all(r["logprob"] < 0 for r in out.values())


def test_source_weighted_sample_rates_and_determinism(docs):
    out = HF.source_weighted_sample(
        docs, "source", "doc_id",
        rates={"src0": 0.0, "src1": 1.0}, default_rate=0.5)
    by_src = {r["source"]: r["count"] for r in
              out.groupBy("source").count().collect()}
    n1 = docs.filter("source = 'src1'").count()
    assert "src0" not in by_src            # rate 0: all dropped
    assert by_src["src1"] == n1            # rate 1: all kept
    total_other = docs.filter("source NOT IN ('src0','src1')").count()
    kept_other = sum(v for k, v in by_src.items() if k != "src1")
    assert 0.3 < kept_other / total_other < 0.7   # ~default 0.5
    # partition-layout invariance: same rows whatever the layout
    again = HF.source_weighted_sample(
        docs.repartition(13), "source", "doc_id",
        rates={"src0": 0.0, "src1": 1.0}, default_rate=0.5)
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == \
        {r["doc_id"] for r in again.select("doc_id").collect()}


def test_knn_classify_majority_and_ties(spark):
    """3 queries in a 2-cluster toy space: prediction follows the local
    majority; vote ties break toward the smaller label."""
    import math
    rows = []
    # cluster A (label 0) around (1,0,...), cluster B (label 1) around (0,1,...)
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i] + [0.0] * 62, 0))
    for i in range(6, 12):
        rows.append((i, [0.01 * i, 1.0] + [0.0] * 62, 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = {r["query_id"]: (r["label"], r["votes"]) for r in
           HF.knn_classify(df, df.filter("vec_id in (0, 7)"),
                           "vec_id", "embedding", "label", k=5).collect()}
    assert out[0][0] == 0 and out[0][1] == 5   # all 5 neighbors in cluster A
    assert out[7][0] == 1 and out[7][1] == 5
    # exact 1-1 vote tie: two perfectly symmetric neighbors around the
    # query -> the smaller label must win
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0] + [0.0] * 62, 4),
         (1, [0.0, 1.0] + [0.0] * 62, 2),
         (100, [1.0, 1.0] + [0.0] * 62, 9)],
        "vec_id long, embedding array<double>, label int")
    out2 = HF.knn_classify(tiny, tiny.filter("vec_id = 100"),
                           "vec_id", "embedding", "label", k=2).collect()
    assert len(out2) == 1 and out2[0]["label"] == 2  # tie -> smaller label


def test_knn_classify_scans_corpus_once(spark):
    """The scorer carries each neighbor's label, so the plan reads the
    corpus once and the queries once, with no label join back onto the
    corpus."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = HF.knn_classify(emb, emb.filter("vec_id < 10"), "vec_id",
                          "embedding", "label", k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2
    assert out.count() == 10


def test_chunk_documents_random_model(spark):
    """200 random docs x random (chunk, overlap) configs vs a pure-Python
    sliding-window model — one Spark job per config."""
    import math
    import random

    rng = random.Random(7)
    docs = [(i, " ".join(f"t{j}" for j in range(rng.randint(0, 40))))
            for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    def model(text, chunk, overlap):
        toks = text.lower().split(" ")  # words() keeps empty-string tokens
        stride = chunk - overlap
        n = len(toks)
        nc = max(math.ceil((n - overlap) / stride), 1)
        out = []
        for i in range(nc):
            sub = toks[i * stride:i * stride + chunk]
            out.append((i, " ".join(sub), min(chunk, n - i * stride)))
        return out

    for chunk, overlap in ((4, 1), (7, 0), (5, 4), (64, 8)):
        got = {(r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
               for r in HF.chunk_documents(df, "doc_id", "text",
                                           chunk_tokens=chunk,
                                           overlap=overlap).collect()}
        exp = {(i, ci, txt, nt)
               for i, text in docs
               for ci, txt, nt in model(text, chunk, overlap)}
        assert got == exp, (chunk, overlap)


def test_pack_sequences_matches_python_model(spark):
    """Random weights (incl. zero and >seq_len docs): exact piece layout
    vs a sequential Python model, plus the every-sequence-full invariant."""
    import collections
    import random

    rng = random.Random(7)
    L = 16
    rows = [(i, rng.randint(0, 40)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, w int")
    got = sorted((r.doc_id, r.seq_id, r.piece_start, r.piece_len) for r in
                 HF.pack_sequences(df, "w", L, ["doc_id"],
                                   num_buckets=8).collect())
    exp, off = [], 0
    for i, w in rows:
        if w <= 0:
            continue
        for k in range(off // L, (off + w - 1) // L + 1):
            gs, ge = max(off, k * L), min(off + w, (k + 1) * L)
            exp.append((i, k, gs - off, ge - gs))
        off += w
    assert got == sorted(exp)
    per_seq = collections.Counter()
    for _, k, _, pl in got:
        per_seq[k] += pl
    last = max(per_seq)
    assert all(v == L for k, v in per_seq.items() if k != last)
    assert 0 < per_seq[last] <= L


def test_temperature_mix_flattens_skewed_sources(spark):
    import math
    rows = ([(i, "big") for i in range(400)] +
            [(i + 1000, "mid") for i in range(100)] +
            [(i + 2000, "small") for i in range(25)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = HF.temperature_mix(df, "source", "doc_id", alpha=0.5)
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    # smallest source keeps everything
    assert counts["small"] == 25
    # expected kept fraction for source i is sqrt(n_min/n_i); binomial
    # bounds are generous (16-bit hash, n=400)
    exp_big = 400 * math.sqrt(25 / 400)
    exp_mid = 100 * math.sqrt(25 / 100)
    assert abs(counts["big"] - exp_big) < 40
    assert abs(counts["mid"] - exp_mid) < 25
    # alpha=1 is the identity mix
    assert HF.temperature_mix(df, "source", "doc_id", alpha=1.0).count() == 525
    # deterministic: re-run selects the identical rows
    a = {r[0] for r in out.select("doc_id").collect()}
    b = {r[0] for r in HF.temperature_mix(
        df, "source", "doc_id", alpha=0.5).select("doc_id").collect()}
    assert a == b
    # generic-alpha path: flattening is monotone in alpha
    n07 = HF.temperature_mix(df, "source", "doc_id", alpha=0.7).count()
    assert out.count() <= n07 <= 525
    # sharpening (alpha > 1): the LARGEST source keeps everything and the
    # tail is downweighted — not the identity
    sharp = {r[0]: r[1] for r in HF.temperature_mix(
        df, "source", "doc_id", alpha=2.0)
        .groupBy("source").count().collect()}
    assert sharp["big"] == 400
    assert sharp.get("small", 0) < 25 and sharp.get("mid", 0) < 100


def test_column_histogram_counts_and_bounds(spark, docs):
    h = {r[0]: (r[1], r[2], r[3]) for r in
         HF.column_histogram(docs, "n_chars", bins=8).collect()}
    stats = docs.agg(F.min("n_chars"), F.max("n_chars")).first()
    lo, hi = float(stats[0]), float(stats[1])
    assert sum(v[2] for v in h.values()) == docs.count()
    assert min(h) >= 0 and max(h) <= 7
    w = (hi - lo) / 8
    for b, (blo, bhi, _) in h.items():
        assert blo == lo + b * w and bhi == lo + (b + 1) * w
    # python cross-check of assignment
    import math
    exp = {}
    for r in docs.select("n_chars").collect():
        b = min(int(math.floor((float(r[0]) - lo) * 8.0 / (hi - lo))), 7)
        exp[b] = exp.get(b, 0) + 1
    assert {b: v[2] for b, v in h.items()} == exp
    # constant column -> single bucket
    one = HF.column_histogram(docs.withColumn("c", F.lit(5)), "c", bins=4)
    rows = one.collect()
    assert len(rows) == 1 and rows[0][0] == 0 and rows[0][3] == docs.count()


def test_char_entropy_random_model(spark):
    """300 random strings (letters, digits, punctuation, messy whitespace)
    vs an independent pure-Python model of the documented contract:
    normalize -> char counts -> HALF_UP round-6 terms -> exact decimal sum."""
    import math
    import random
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(13)
    alpha = "abXY z\t0!?.\né"
    docs = [(i, "".join(rng.choice(alpha)
                        for _ in range(rng.randint(0, 60))))
            for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r[0]: r[1] for r in df.select(
        "doc_id", HF.char_entropy("text").alias("h")).collect()}

    q = Decimal("0.000001")
    for i, text in docs:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        if not norm:
            exp = 0.0
        else:
            n = len(norm)
            total = Decimal(0)
            for c in Counter(norm).values():
                p = c / n
                total += Decimal(p * math.log2(p)).quantize(
                    q, rounding=ROUND_HALF_UP)
            exp = float(-total)
        assert got[i] == exp, (i, repr(text), got[i], exp)


def test_temperature_mix_random_model(spark):
    """Random skewed source layout vs a pure-Python model of the hash
    threshold contract (alpha=0.5 exact integer-sqrt quantization)."""
    import hashlib
    import math
    import random

    rng = random.Random(29)
    sources = {f"s{k}": rng.randint(1, 200) for k in range(6)}
    rows, i = [], 0
    for s, n in sources.items():
        for _ in range(n):
            rows.append((i, s))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r[0] for r in HF.temperature_mix(
        df, "source", "doc_id", alpha=0.5).select("doc_id").collect()}

    n_min = min(sources.values())
    thr = {s: math.isqrt((65536 * 65536 * n_min) // n)
           for s, n in sources.items()}
    exp = {i for i, s in rows
           if int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) < thr[s]}
    assert got == exp
    # smallest source is kept in full
    smallest = min(sources, key=sources.get)
    assert all(i in got for i, s in rows if s == smallest)


def test_temperature_mix_plan_is_map_only_filter(docs):
    """After the bounded census, admission is a single filtered scan —
    no Exchange, no join."""
    out = HF.temperature_mix(docs, "lang", "doc_id", alpha=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_temperature_mix_null_source_policy(spark):
    """NULL-source rows must not crash the census sort (None vs str) and
    are dropped — no count exists to derive a keep rate from (r10 advice)."""
    rows = ([(i, "big") for i in range(200)] +
            [(i + 1000, "small") for i in range(20)] +
            [(i + 2000, None) for i in range(15)])
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = HF.temperature_mix(df, "source", "doc_id", alpha=0.5)
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert None not in counts          # every null-source row dropped
    assert counts["small"] == 20       # non-null behavior unchanged
    # matches the same mix with the null rows pre-filtered
    base = {r[0] for r in HF.temperature_mix(
        df.filter(F.col("source").isNotNull()), "source", "doc_id",
        alpha=0.5).select("doc_id").collect()}
    assert {r[0] for r in out.select("doc_id").collect()} == base
    # degenerate: ALL rows null-source -> empty, not identity
    all_null = df.filter(F.col("source").isNull())
    assert HF.temperature_mix(all_null, "source", "doc_id").count() == 0
    # and a genuinely empty frame stays the identity
    assert HF.temperature_mix(df.limit(0), "source", "doc_id").count() == 0


def test_pack_sequences_tied_order_keys_disjoint(spark):
    """Rows TIED on order_cols must still receive disjoint token ranges
    (explicit ROWS frame, r10 advice): every sequence but the last is
    exactly full and total packed tokens equal total input tokens."""
    import collections

    rows = [(7, 5)] * 40 + [(9, 13)] * 10  # heavy ties on the order key
    df = spark.createDataFrame(rows, "k int, w int")
    got = HF.pack_sequences(df, "w", 16, ["k"], num_buckets=4).collect()
    per_seq = collections.Counter()
    for r in got:
        assert 0 < r.piece_len <= 16 and 0 <= r.piece_start
        per_seq[r.seq_id] += r.piece_len
    assert sum(per_seq.values()) == 40 * 5 + 10 * 13
    last = max(per_seq)
    assert all(v == 16 for k, v in per_seq.items() if k != last)
    assert 0 < per_seq[last] <= 16


def test_dsir_prefers_target_like_docs(spark):
    """DSIR (Xie et al. 2023): docs whose hashed-ngram bag resembles the
    TARGET distribution get higher importance weights than docs that
    resemble only the raw corpus."""
    legal = ["the party of the first part shall indemnify the counterparty",
             "whereas the agreement herein shall bind the first party",
             "the counterparty shall notify the first party herein"]
    chat = ["lol that movie was so great gonna watch it again tonight",
            "omg did you see the game last night that was wild",
            "haha yeah totally gonna grab pizza later tonight"]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(legal + chat)],
        "doc_id int, text string")
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(legal)],
        "doc_id int, text string")
    w = {r["doc_id"]: r["log_weight"] for r in HF.dsir_logweights(
        corpus, target, "doc_id", "text", buckets=512).collect()}
    assert len(w) == 6
    assert min(w[i] for i in (0, 1, 2)) > max(w[i] for i in (3, 4, 5))
    top = [r["doc_id"] for r in HF.dsir_select(
        corpus, target, "doc_id", "text", k=3, buckets=512).collect()]
    assert sorted(top) == [0, 1, 2]
    # deterministic across runs
    top2 = [r["doc_id"] for r in HF.dsir_select(
        corpus, target, "doc_id", "text", k=3, buckets=512).collect()]
    assert top == top2


def test_dsir_plan_broadcast_scoring(docs):
    """The scoring pass must be: pruned scan -> BroadcastHashJoin against
    the bounded log-ratio table -> partial agg -> ONE exchange on the doc
    key. A shuffled (sort-merge) join against the lr table, or a second
    corpus exchange, would be the 100 TB anti-plan."""
    corpus = docs.select("doc_id", "text")
    target = docs.filter("doc_id % 5 = 0").select("doc_id", "text")
    w = HF.dsir_logweights(corpus, target, "doc_id", "text", buckets=256)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") <= 2  # broadcast + the per-doc agg


def test_dsir_bucket_range_validated(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError, match="65536"):
        HF.dsir_logweights(df, df, "doc_id", "text", buckets=1 << 17)


def test_dsir_self_target_is_identity(spark):
    """p == q (target IS the corpus) makes every bucket's smoothed
    log-ratio exactly 0, so every doc's weight is exactly 0.0 — the
    estimator's null-calibration invariant."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "alpha beta gamma delta epsilon zeta",
            "one two three four five six seven",
            "red orange yellow green blue indigo violet"])],
        "doc_id int, text string")
    out = HF.dsir_logweights(df, df, "doc_id", "text", buckets=256).collect()
    assert len(out) == 3
    assert all(r["log_weight"] == 0.0 for r in out)


# ---------------------------------------------------- corpus overlap (r12)
def test_corpus_overlap_matches_python_model(spark):
    """Exact pairwise Jaccard against a hand-computed shingle-set model,
    including the zero-overlap pair."""
    rows = [(1, "aaaaabbbbb", "A"), (2, "bbbbbccccc", "A"),
            (3, "aaaaaccccc", "B"), (4, "zzzzzyyyyy", "C")]
    df = spark.createDataFrame(rows, "doc_id int, text string, src string")

    def sh5(t):
        return {t[i:i + 5] for i in range(len(t) - 4)}

    sets = {"A": sh5("aaaaabbbbb") | sh5("bbbbbccccc"),
            "B": sh5("aaaaaccccc"), "C": sh5("zzzzzyyyyy")}
    got = {(r.group_a, r.group_b):
           (r.shingles_a, r.shingles_b, r.intersection, r.jaccard)
           for r in HF.corpus_overlap(df, "src", "text").collect()}
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    for (ga, gb), (na, nb, i, j) in got.items():
        a, b = sets[ga], sets[gb]
        assert (na, nb, i) == (len(a), len(b), len(a & b))
        assert j == pytest.approx(len(a & b) / len(a | b))
    assert got[("A", "C")][3] == 0.0  # zero-overlap pair is present


def test_corpus_overlap_minhash_tracks_exact(docs):
    """The 64-hash sketch estimate stays within ~3 standard errors of the
    exact Jaccard on every source pair of the real corpus, and is
    deterministic across runs."""
    exact = {(r.group_a, r.group_b): r.jaccard
             for r in HF.corpus_overlap(docs, "source", "text").collect()}
    est1 = {(r.group_a, r.group_b): r.est_jaccard
            for r in HF.corpus_overlap_minhash(
                docs, "source", "text", num_hashes=64).collect()}
    est2 = {(r.group_a, r.group_b): r.est_jaccard
            for r in HF.corpus_overlap_minhash(
                docs.repartition(7), "source", "text",
                num_hashes=64).collect()}
    assert est1 == est2  # pure function of the data
    assert set(est1) == set(exact)
    for pair, j in exact.items():
        se = (max(j * (1 - j), 0.01) / 64) ** 0.5
        assert abs(est1[pair] - j) <= 3.5 * se, (pair, j, est1[pair])


def test_corpus_overlap_minhash_plan_one_shuffle(docs):
    """The sketch path shuffles exactly once (the G-row partial-agg
    exchange); the G×G pairing is broadcast, never a shuffled join.
    (An r15 distinct-before-hash rewrite was tried and reverted on
    measurement — this pin guards the nothing-shingle-sized-shuffles
    property that matters at 100 TB.)"""
    out = HF.corpus_overlap_minhash(docs, "source", "text", num_hashes=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the static plan prints the G-row sketch subtree once per join side
    # (AQE's exchange reuse collapses them at runtime); the point is that
    # every exchange is the group-keyed partial-agg one — no global
    # collapse, no shuffled join
    assert 1 <= plan.count("Exchange hashpartitioning(__g") <= 2
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------ epoch shuffle (r12)
def test_epoch_shuffle_permutation_and_determinism(docs):
    """(shard, position) is a partition of the corpus into contiguous
    1..n_s runs; the assignment is a pure function of (seed, epoch, id) —
    stable across repartition — and a different epoch reorders."""
    base = docs.select("doc_id", "text")
    out = HF.epoch_shuffle(base, "doc_id", num_shards=8, seed=3, epoch=0)
    rows = out.select("doc_id", "shard", "position").collect()
    assert len(rows) == base.count()
    assert len({r.doc_id for r in rows}) == len(rows)  # no dup/drop
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(8))
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))  # contiguous
    again = HF.epoch_shuffle(base.repartition(13), "doc_id",
                             num_shards=8, seed=3, epoch=0) \
        .select("doc_id", "shard", "position").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    other = HF.epoch_shuffle(base, "doc_id", num_shards=8, seed=3,
                             epoch=1).select("doc_id", "shard",
                                             "position").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, rows))


def test_epoch_shuffle_plan_one_shuffle_no_global_sort(docs):
    """One hash exchange on the shard key, per-shard local sort only —
    the floor for a global permutation. No Exchange SinglePartition, no
    rangepartitioning (global sort)."""
    out = HF.epoch_shuffle(docs.select("doc_id", "text"), "doc_id",
                           num_shards=32, seed=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_epoch_shuffle_validates_shards(docs):
    with pytest.raises(ValueError):
        HF.epoch_shuffle(docs, "doc_id", num_shards=0)


def test_corpus_report_hand_computed(spark):
    rows = [(1, "a b c", "s1"), (2, "a b c", "s1"), (3, "x y", "s1"),
            (4, "", "s2"), (5, "solo doc here", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    from hoodie_spark.functions.pipeline import corpus_report
    out = {r["grp"]: r for r in corpus_report(df, "text", "src").collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_docs"], s1["distinct_texts"], s1["dup_docs"]) == (3, 2, 2)
    assert s1["total_tokens"] == 8 and s1["n_empty"] == 0
    assert s1["mean_tokens"] == round(8 / 3, 6)
    assert (s2["n_docs"], s2["n_empty"], s2["dup_docs"]) == (2, 1, 0)
    assert s2["total_tokens"] == 3
    # global single-row mode
    g = corpus_report(df, "text").collect()
    assert len(g) == 1 and g[0]["grp"] == "all" and g[0]["n_docs"] == 5


def test_corpus_report_null_text_counts_as_empty(spark):
    """round-12 advice: NULL text must count exactly like empty text —
    without the coalesce, size(split(null)) = -1 SUBTRACTED a token per
    null doc, nulls grouped under a null hash (inflating dup_docs), and
    n_empty missed them."""
    rows = [(1, None, "s"), (2, None, "s"), (3, "", "s"), (4, "a b", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    from hoodie_spark.functions.pipeline import corpus_report
    r = corpus_report(df, "text", "src").collect()[0]
    assert r["n_docs"] == 4
    assert r["n_empty"] == 3          # both NULLs + ''
    assert r["total_tokens"] == 2     # only "a b"; no -1 per null
    assert r["distinct_texts"] == 2   # {'', 'a b'} — nulls fold into ''
    assert r["dup_docs"] == 3         # the three empty-normalized docs


def test_decontaminate_near_drops_paraphrase_rewrites(spark):
    from hoodie_spark import functions as HF
    base = ("the quick brown fox jumps over the lazy dog while the rain "
            "falls softly on the quiet rooftops of the sleeping town")
    ev = spark.createDataFrame([(1, base)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, base + " extra tail words"),             # near-copy: drop
         (11, "completely unrelated text about spark joins and shuffles "
              "partitions aggregation pushdown pruning codegen")],
        "doc_id long, text string")
    kept = HF.decontaminate_near(corpus, ev, "doc_id", "text",
                                 threshold=0.8)
    assert [r["doc_id"] for r in kept.collect()] == [11]
    # the exact word-13-gram decontaminate ALSO catches this verbatim
    # prefix — the near variant's value is robustness when the rewrite
    # breaks every long exact gram:
    shuffled = (base.split())
    rewrite = " ".join(shuffled[:8] + ["basically"] + shuffled[8:16]
                       + ["anyway"] + shuffled[16:])
    corpus2 = spark.createDataFrame([(20, rewrite)],
                                    "doc_id long, text string")
    exact_kept = HF.decontaminate(corpus2, ev, "text", "doc_id", n=13)
    near_kept = HF.decontaminate_near(corpus2, ev, "doc_id", "text",
                                      threshold=0.7)
    assert exact_kept.count() == 1   # 13-gram overlap broken by inserts
    assert near_kept.count() == 0    # shingle Jaccard still sees it


def test_decontaminate_near_eval_side_broadcasts(spark):
    from hoodie_spark import functions as HF
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    plan = (HF.decontaminate_near(docs.filter("doc_id % 20 != 0"),
                                  docs.filter("doc_id % 20 = 0"),
                                  "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_leakage_safe_split_near_dups_same_split(spark):
    """Near-duplicates (and exact dups) must land in the SAME split; the
    realized fractions track the requested ones; assignment is a pure
    function of the data (repartition-stable)."""
    from hoodie_spark import functions as HF
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    near = (docs.withColumn("doc_id", F.col("doc_id") + 10000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    corpus = docs.unionByName(near)
    out = HF.leakage_safe_split(corpus, "doc_id", "text",
                                {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == corpus.count()
    # the operator's contract: every pair its gate links shares a split.
    # The gate is signature agreement >= min_sig_matches (the estimator,
    # same as SplitMaintainer) — check against the gate itself, and
    # sanity-check the gate links nearly all of the ' zz' near-copies.
    linked = {(r["id_a"], r["id_b"]) for r in HF.sig_near_pairs(
        corpus, "doc_id", "text", threshold=0.8).collect()}
    pairs = [(i, i + 10000) for i in rows if i < 10000
             and i + 10000 in rows]
    gate_hits = [p for p in pairs if p in linked]
    assert len(gate_hits) >= 0.95 * len(pairs)
    mismatched = [p for p in gate_hits if rows[p[0]] != rows[p[1]]]
    assert mismatched == []
    # fractions in the right ballpark on ~1000 docs
    from collections import Counter
    c = Counter(rows.values())
    n = sum(c.values())
    assert 0.68 <= c["train"] / n <= 0.92
    assert c["val"] > 0 and c["test"] > 0
    # repartition-stable
    again = {r["doc_id"]: r["split"] for r in HF.leakage_safe_split(
        corpus.repartition(13, "doc_id"), "doc_id", "text",
        {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert again == rows


def test_leakage_safe_split_validates_fractions(spark):
    from hoodie_spark import functions as HF
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        HF.leakage_safe_split(docs, "doc_id", "text",
                              {"train": 0.7, "val": 0.1})


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


def _docs(spark, bodies, start=0):
    rows = [(start + i, b) for i, b in enumerate(bodies)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_dsir_tokenizes_corpus_exactly_once(spark):
    """The exploded corpus grams are persisted across the census and
    scoring passes: each corpus row's text is read exactly once."""
    from hoodie_spark import functions as HF

    taps = spark.sparkContext.accumulator(0)

    def tap(s):
        taps.add(1)
        return s

    tap_udf = F.udf(tap, "string")
    base = _docs(spark, _BODIES + _BODIES2)
    corpus = base.withColumn("text", tap_udf("text"))
    target = base.filter(F.col("doc_id") % 3 == 0)  # untapped side
    out = HF.dsir_select(corpus, target, "doc_id", "text", k=5)
    rows = out.collect()
    assert len(rows) == 5
    n = base.count()
    assert taps.value == n, (
        f"corpus text evaluated {taps.value} times for {n} rows — the "
        "census and scoring passes are not sharing the grams frame")
