"""Bigram-LM perplexity (functions/lm.py) and the trainable hashed-LR
quality classifier (functions/classifier.py)."""

import math

import pytest
from pyspark.sql import functions as F

from hoodie_spark import functions as HF
from hoodie_spark.functions.lm import UNK, _pairs, train_bigram_lm


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------- bigram LM

def test_bigram_lm_hand_computed(spark):
    # corpus: "a b a b" + "a c" — vocab covers everything at V=8
    df = _docs(spark, [(1, "a b a b"), (2, "a c")])
    lm = train_bigram_lm(df, "text", vocab_size=8)
    # bigrams: (a,b)x2, (b,a)x1, (a,c)x1 → c(a)=3, c(b)=1; V+1=9
    pairs = {(r["w1"], r["w2"]): r["lp"] for r in lm.pair_lp.collect()}
    assert pairs[("a", "b")] == round(math.log(3.0 / 12.0), 6)
    assert pairs[("b", "a")] == round(math.log(2.0 / 10.0), 6)
    assert pairs[("a", "c")] == round(math.log(2.0 / 12.0), 6)
    out = {r["doc_id"]: r for r in
           HF.bigram_perplexity(df, "doc_id", "text", lm=lm).collect()}
    lp1 = (round(math.log(3 / 12), 6) * 2 + round(math.log(2 / 10), 6))
    assert out[1]["n_bigrams"] == 3
    assert out[1]["logprob"] == pytest.approx(lp1, abs=1e-9)
    assert out[1]["ppl"] == pytest.approx(
        round(math.exp(-lp1 / 3), 6), abs=1e-9)


def test_bigram_lm_unk_collapse_and_short_docs(spark):
    # vocab_size=2 keeps only the two most frequent tokens; everything
    # else becomes <unk>. One-token and empty docs produce no bigrams.
    df = _docs(spark, [(1, "x x y y zz qq"), (2, "x"), (3, "")])
    lm = train_bigram_lm(df, "text", vocab_size=2)
    assert sorted(lm.vocab) == ["x", "y"]
    assert any(r["w2"] == UNK for r in lm.pair_lp.collect())
    out = HF.bigram_perplexity(df, "doc_id", "text", lm=lm)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_bigram_ppl_separates_repetition_from_gibberish(spark):
    # same unigram bag, different order: the bigram model scores the
    # in-distribution ordering lower-ppl than the scrambled one —
    # exactly what unigram_logprob cannot see
    template = [(i, "the cat sat on the mat") for i in range(20)]
    df = _docs(spark, template + [(100, "mat the on sat cat the")])
    out = {r["doc_id"]: r["ppl"]
           for r in HF.bigram_perplexity(df, "doc_id", "text",
                                         vocab_size=16).collect()}
    assert out[0] < out[100]


def test_bigram_ppl_partitioning_invariant(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a = HF.bigram_perplexity(docs.repartition(1), "doc_id", "text")
    b = HF.bigram_perplexity(docs.repartition(13, "doc_id"),
                             "doc_id", "text")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # DECIMAL sums: bit-identical under any partitioning


def test_bigram_lm_vocab_bounds(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        train_bigram_lm(df, "text", vocab_size=1)
    with pytest.raises(ValueError):
        train_bigram_lm(df, "text", vocab_size=(1 << 20) + 1)


def test_bigram_lm_64k_vocab_broadcast_mapping(spark):
    """Round-12 advice: a 64k CCNet-sized vocabulary must work and the
    vocab mapping must be a broadcast join (the old in-row isin literal
    was interpreted per token and capped at 4096)."""
    # > 64k distinct terms so the cap actually truncates the vocabulary
    docs = spark.range(70_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string"), F.lit(" t"),
                 ((F.col("id") + 1) % 70_000).cast("string"), F.lit(" t"),
                 ((F.col("id") * 7) % 70_000).cast("string"))
        .alias("text"))
    lm = train_bigram_lm(docs, "text", vocab_size=65536)
    assert len(lm.vocab) == 65536
    out = HF.bigram_perplexity(docs, "doc_id", "text", lm=lm)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert " IN (" not in plan and "isin" not in plan  # no vocab literal
    assert "SortMergeJoin" not in plan
    row = out.agg(F.count(F.lit(1)), F.min("ppl")).first()
    assert row[0] == 70_000 and row[1] > 0


def test_bigram_scoring_plan_is_broadcast_no_udf(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    lm = train_bigram_lm(docs, "text", vocab_size=16)
    plan = (HF.bigram_perplexity(docs, "doc_id", "text", lm=lm)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "SortMergeJoin" not in plan  # model joins must never shuffle


# ------------------------------------------------------------- classifier

def _labeled(spark, n=120):
    # separable: label-1 docs contain 'excellent', label-0 contain 'junk';
    # shared filler tokens on both sides
    rows = []
    for i in range(n):
        y = i % 2
        marker = "excellent quality prose" if y else "junk junk spam"
        rows.append((i, f"{marker} filler common words {i % 5}", y))
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_classifier_learns_separable_data(spark):
    df = _labeled(spark)
    out = HF.quality_classifier(df, "doc_id", "text", "y",
                                dim=64, iters=8, lr=4.0).collect()
    acc = sum(1 for r in out if r["predicted"] == r["label"]) / len(out)
    assert acc >= 0.95
    pos = [r["score"] for r in out if r["label"] == 1]
    neg = [r["score"] for r in out if r["label"] == 0]
    assert min(pos) > max(neg)  # full margin separation


def test_classifier_deterministic_across_partitioning(spark):
    df = _labeled(spark, n=60)
    w1 = HF.train_hashed_lr(df.repartition(1), "text", "y",
                            dim=32, iters=3)
    w2 = HF.train_hashed_lr(df.repartition(17, "doc_id"), "text", "y",
                            dim=32, iters=3)
    assert w1 == w2  # bit-identical: DECIMAL gradient sums + fixed rounds


def test_classifier_generalizes_to_unseen_docs(spark):
    train = _labeled(spark, n=100)
    w = HF.train_hashed_lr(train, "text", "y", dim=64, iters=8, lr=4.0)
    test = _docs(spark, [(900, "excellent quality prose filler"),
                         (901, "junk spam filler")])
    scores = {r["doc_id"]: r["score"]
              for r in HF.score_hashed_lr(test, "doc_id", "text",
                                          w).collect()}
    assert scores[900] > 0.5 > scores[901]


def test_classifier_empty_docs_score_at_bias(spark):
    # round-12 advice: the contract is x = 0 for empty docs even with
    # NONZERO weights ('' must not hash a phantom token into a real
    # bucket), and NULL text must score at the bias, never NULL
    w = [0.5] * 16 + [2.0]  # dim=16, bias=2, nonzero bucket weights
    out = {r["doc_id"]: r["score"] for r in HF.score_hashed_lr(
        _docs(spark, [(1, ""), (2, None), (3, "   \t "), (4, "real words")]),
        "doc_id", "text", w).collect()}
    bias_score = round(1 / (1 + math.exp(-2.0)), 6)
    assert out[1] == bias_score          # empty
    assert out[2] == bias_score          # NULL — not NULL score
    assert out[3] == bias_score          # whitespace-only
    # a real doc: every token carries weight 0.5 → x sums to 0.5
    assert out[4] == round(1 / (1 + math.exp(-2.5)), 6)


def test_classifier_rejects_all_empty_training(spark):
    df = spark.createDataFrame([], "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="no trainable rows"):
        HF.train_hashed_lr(df, "text", "y", dim=8, iters=1)


def test_classifier_scoring_plan_is_map_only(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    w = [0.01] * 33
    plan = (HF.score_hashed_lr(docs, "doc_id", "text", w)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan  # one pass, no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_perplexity_buckets_equal_population(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    out = HF.perplexity_buckets(docs, "doc_id", "text", n_buckets=3)
    counts = {r["bucket"]: r["cnt"] for r in
              out.groupBy("bucket").agg(F.count("*").alias("cnt"))
              .collect()}
    assert set(counts) == {0, 1, 2}
    assert max(counts.values()) - min(counts.values()) <= 1  # equal pop
    # bucket order tracks perplexity: every head ppl <= every tail ppl
    rows = out.collect()
    head = max(r["ppl"] for r in rows if r["bucket"] == 0)
    tail = min(r["ppl"] for r in rows if r["bucket"] == 2)
    assert head <= tail


def test_perplexity_buckets_matches_global_rank(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    out = {r["doc_id"]: r["bucket"] for r in
           HF.perplexity_buckets(docs, "doc_id", "text",
                                 n_buckets=4).collect()}
    # reference: single-partition exact rank
    scored = sorted(
        HF.bigram_perplexity(docs, "doc_id", "text").collect(),
        key=lambda r: (r["ppl"], r["doc_id"]))
    n = len(scored)
    for rank, r in enumerate(scored):
        assert out[r["doc_id"]] == rank * 4 // n


def test_bigram_lm_distributed_model_path_identical(spark):
    """A model above the broadcast-rows threshold stays distributed and
    scoring shuffle-joins it — scores must be bit-identical to the
    collected/broadcast path (threshold forced to 0 to exercise it)."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(200))
    small = train_bigram_lm(docs, "text", vocab_size=32)
    assert small.broadcast
    big = train_bigram_lm(docs, "text", vocab_size=32,
                          broadcast_model_rows=0)
    assert not big.broadcast
    a = sorted(map(tuple, HF.bigram_perplexity(
        docs, "doc_id", "text", lm=small).collect()))
    b = sorted(map(tuple, HF.bigram_perplexity(
        docs, "doc_id", "text", lm=big).collect()))
    assert a == b


# ------------------------------------------------- domain mixture weights

def _domained(spark):
    rows = []
    for i in range(40):  # fluent, repetitive domain — low NLL
        rows.append((i, "web", "the cat sat on the mat and the dog ran"))
    for i in range(40, 60):  # harder domain: shuffled/rare constructions
        rows.append((i, "code", f"x{i % 7} := y{i % 5} << q{i % 3} end"))
    for i in range(60, 70):
        rows.append((i, "books", "once upon a time the cat sat quietly"))
    return spark.createDataFrame(rows, "doc_id long, src string, text string")


def test_domain_mixture_weights_sum_to_one_and_upweight_hard(spark):
    df = _domained(spark)
    out = {r["src"]: r for r in HF.domain_mixture_weights(
        df, "src", "doc_id", "text", vocab_size=32, eta=1.0).collect()}
    assert set(out) == {"web", "code", "books"}
    assert sum(r["weight"] for r in out.values()) == pytest.approx(
        1.0, abs=2e-5)
    # the hard domain's weight exceeds its raw token share; the easy
    # repetitive domain is downweighted relative to its share
    tt = sum(r["n_tokens"] for r in out.values())
    assert out["code"]["weight"] > out["code"]["n_tokens"] / tt
    assert out["web"]["weight"] < out["web"]["n_tokens"] / tt
    assert out["code"]["nll"] > out["web"]["nll"]


def test_domain_mixture_eta_zero_is_token_share(spark):
    df = _domained(spark)
    out = {r["src"]: r for r in HF.domain_mixture_weights(
        df, "src", "doc_id", "text", vocab_size=32, eta=0.0).collect()}
    tt = sum(r["n_tokens"] for r in out.values())
    for r in out.values():  # exp(0)=1 → weight collapses to token share
        assert r["weight"] == pytest.approx(r["n_tokens"] / tt, abs=2e-5)


def test_domain_mixture_partitioning_invariant(spark):
    df = _domained(spark)
    a = sorted(map(tuple, HF.domain_mixture_weights(
        df.repartition(1), "src", "doc_id", "text",
        vocab_size=32).collect()))
    b = sorted(map(tuple, HF.domain_mixture_weights(
        df.repartition(13, "doc_id"), "src", "doc_id", "text",
        vocab_size=32).collect()))
    assert a == b


# --------------------------------------- one-pass dual-model scoring
def test_excess_select_one_pass_equals_two_pass(spark):
    from hoodie_spark.functions.lm import (bigram_perplexity,
                                           train_bigram_lm)

    rows = [(i, f"alpha beta gamma delta tok{i % 3} beta alpha end")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter(F.col("doc_id") % 5 == 0)
    got = HF.excess_perplexity_select(df, "doc_id", "text", ref, k=10,
                                      vocab_size=8)
    # replay the pre-r15 two-pass shape verbatim
    ref_lm = train_bigram_lm(ref, "text", vocab_size=8)
    self_lm = train_bigram_lm(df, "text", vocab_size=8)
    s = (bigram_perplexity(df, "doc_id", "text", lm=self_lm)
         .select("doc_id", "n_bigrams",
                 F.col("logprob").alias("__lp_self")))
    r = (bigram_perplexity(df, "doc_id", "text", lm=ref_lm)
         .select("doc_id", F.col("logprob").alias("__lp_ref")))
    want = (s.join(r, "doc_id")
            .withColumn("nll_self",
                        F.round(-F.col("__lp_self") / F.col("n_bigrams"), 6))
            .withColumn("nll_ref",
                        F.round(-F.col("__lp_ref") / F.col("n_bigrams"), 6))
            .withColumn("excess",
                        F.round(F.col("nll_self") - F.col("nll_ref"), 6))
            .drop("__lp_self", "__lp_ref")
            .orderBy(F.desc("excess"), F.asc("doc_id")).limit(10))
    cols = ["doc_id", "n_bigrams", "nll_self", "nll_ref", "excess"]
    assert [tuple(row) for row in got.select(*cols).collect()] == \
        [tuple(row) for row in want.select(*cols).collect()]


# ----------------------------------------- single-census LM training
def _old_shape_model(corpus, text_col, vocab, vocab_size):
    """The pre-r16 training tail verbatim: separate lp and unseen
    computations, each its own census run."""
    denom_slots = float(vocab_size + 1)
    pc = (_pairs(corpus, None, text_col, vocab)
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    ctx = pc.groupBy("w1").agg(F.sum("cb").alias("cw"))
    lp = (pc.join(ctx, "w1")
          .select("w1", "w2",
                  F.round(F.log((F.col("cb") + F.lit(1.0))
                                / (F.col("cw") + F.lit(denom_slots))), 6)
                  .alias("lp")))
    unseen = ctx.select(
        "w1",
        F.round(F.log(F.lit(1.0) / (F.col("cw") + F.lit(denom_slots))), 6)
        .alias("unseen_lp"))
    return lp, unseen


def test_train_bigram_lm_matches_old_shape(spark):
    rows = [(f"alpha beta gamma tok{i % 4} beta alpha end",)
            for i in range(40)] + [("",), (None,), ("single",)]
    df = spark.createDataFrame(rows, "text string")
    lm = train_bigram_lm(df, "text", vocab_size=6)
    assert lm.broadcast
    old_lp, old_unseen = _old_shape_model(df, "text", lm.vocab, 6)
    assert sorted(map(tuple, lm.pair_lp.collect())) == \
        sorted(map(tuple, old_lp.collect()))
    assert sorted(map(tuple, lm.ctx_lp.collect())) == \
        sorted(map(tuple, old_unseen.collect()))
    assert lm.oov_lp == round(math.log(1.0 / 7.0), 6)


def test_train_bigram_lm_broadcast_tables_are_local(spark):
    """Broadcast-model tables must be driver-local (lineage severed —
    LogicalRDD/LocalRelation over collected rows, the same shape the
    pre-r16 code produced): scoring plans embed values, never re-run
    the census."""
    df = spark.createDataFrame(
        [("a b c a b",), ("b c d",)], "text string")
    lm = train_bigram_lm(df, "text", vocab_size=4)
    for t in (lm.pair_lp, lm.ctx_lp):
        opt = t._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in opt or "LocalRelation" in opt, opt
        assert "Aggregate" not in opt and "Join" not in opt, opt


def test_train_bigram_lm_empty_corpus(spark):
    df = spark.createDataFrame([("",), (None,)], "text string")
    lm = train_bigram_lm(df, "text", vocab_size=4)
    assert lm.pair_lp.count() == 0
    assert lm.ctx_lp.count() == 0


def test_train_bigram_lm_non_broadcast_path(spark):
    """Force the distributed-model path (broadcast_model_rows=0) and
    check values + that unpersist releases the census pin."""
    rows = [(f"alpha beta tok{i % 3} gamma",) for i in range(20)]
    df = spark.createDataFrame(rows, "text string")
    lm = train_bigram_lm(df, "text", vocab_size=5,
                         broadcast_model_rows=0)
    assert not lm.broadcast
    bc = train_bigram_lm(df, "text", vocab_size=5)
    assert sorted(map(tuple, lm.pair_lp.collect())) == \
        sorted(map(tuple, bc.pair_lp.collect()))
    assert sorted(map(tuple, lm.ctx_lp.collect())) == \
        sorted(map(tuple, bc.ctx_lp.collect()))
    assert lm._census is not None and lm._census.is_cached
    lm.unpersist()
    assert not lm._census.is_cached


def test_perplexity_buckets_values_stable(spark):
    """End-to-end: the bucket assignment over a self-trained LM is
    unchanged by the single-census training."""
    rows = [(i, f"alpha beta gamma tok{i % 7} delta beta alpha")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["ppl"], r["bucket"])
           for r in HF.perplexity_buckets(df, "doc_id", "text",
                                          n_buckets=3,
                                          vocab_size=8).collect()}
    assert len(out) == 60
    assert {b for _, b in out.values()} == {0, 1, 2}
    # deterministic: same inputs, same buckets on a second run
    out2 = {r["doc_id"]: (r["ppl"], r["bucket"])
            for r in HF.perplexity_buckets(df, "doc_id", "text",
                                           n_buckets=3,
                                           vocab_size=8).collect()}
    assert out == out2
