"""Round-6 training-data operators: Gopher quality gate, global span
dedup, product-quantization ANN."""

import pytest
from pyspark.sql import functions as F

from hoodie_spark import functions as HF

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_gopher_metrics_hand_checked(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat with a hat that fit"),
         (2, "spam spam spam spam spam spam spam spam"),
         (3, "x")], ["id", "text"])
    m = (df.select("id", HF.gopher_metrics("text").alias("m"))
         .select("id", "m.*").orderBy("id").collect())
    r1, r2, r3 = m
    assert r1.n_words == 11
    assert abs(r1.mean_word_len - 32 / 11) < 1e-9
    assert r1.alpha_word_frac == 1.0
    assert r1.stopword_hits >= 3  # the, a, with, that, on->no
    assert r1.dup_span_frac == 0.0
    # doc 2: one word repeated -> every bigram identical
    assert r2.top_bigram_frac == 1.0
    assert r2.dup_span_frac == 0.5  # spans: 2 total, 1 distinct
    assert r3.n_words == 1 and r3.top_bigram_frac == 0.0


def test_gopher_filter_drops_repetitive(spark, docs):
    flagged = HF.gopher_filter(docs, "text", keep_col="keep")
    kept = flagged.filter("keep").count()
    assert 0 < kept < docs.count()
    # the filter form matches the flag form
    assert HF.gopher_filter(docs, "text").count() == kept
    # repetitive synthetic doc always dies
    bad = spark.createDataFrame(
        [(99, "dup " * 40)], ["doc_id", "text"])
    assert HF.gopher_filter(bad, "text").count() == 0


def test_dedup_spans_model(spark):
    """Model check on a constructed corpus: the shared 4-word span is
    removed from every doc, unique spans survive in order."""
    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(1, f"{shared} one two three four"),
         (2, f"{shared} five six seven eight"),
         (3, "nine ten eleven twelve")], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           HF.dedup_spans(df, "doc_id", "text", span_width=4,
                          min_docs=2).collect()}
    assert out[1].text == "one two three four"
    assert out[2].text == "five six seven eight"
    assert out[3].text == "nine ten eleven twelve"
    assert out[1].n_spans_total == 2 and out[1].n_spans_kept == 1
    assert out[3].n_spans_kept == 1


def test_dedup_spans_corpus_and_plan(spark, docs):
    out = HF.dedup_spans(docs, "doc_id", "text").cache()
    n_in, n_out = docs.count(), out.count()
    assert n_out <= n_in
    removed = out.agg(
        F.sum(F.col("n_spans_total") - F.col("n_spans_kept"))).first()[0]
    assert removed and removed > 0
    # no span that survived appears in >=2 docs
    spans = out.select("doc_id", F.explode(
        HF.word_spans(F.col("text"), 4)).alias("s"))
    dup = (spans.groupBy("s").agg(F.count_distinct("doc_id").alias("d"))
           .filter("d >= 2").count())
    assert dup == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    out.unpersist()


def test_pq_topk_recall_and_index(spark, emb, tmp_table_path):
    qs = emb.filter("vec_id < 10")
    bf = {(r[0], r[1]) for r in HF.brute_force_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id").collect()}
    out = HF.pq_topk(emb, qs, "vec_id", "embedding", k=10)
    got = {(r[0], r[1]) for r in
           out.select("query_id", "neighbor_id").collect()}
    # 10x better than random chance (10/500 = 2%) even untrained
    recall = len(bf & got) / len(bf)
    assert recall >= 0.2, recall
    # rank column is dense 1..10 per query
    per_q = out.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")).collect()
    assert all(r.n == 10 and r.mx == 10 for r in per_q)

    # pre-encoded index path returns the identical ranking
    books = HF.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    HF.write_pq_index(emb, books, "vec_id", "embedding", tmp_table_path)
    codes = spark.read.parquet(tmp_table_path)
    got2 = {(r[0], r[1], r[2]) for r in HF.pq_topk(
        emb, qs, "vec_id", "embedding", k=10, books=books,
        codes_df=codes).collect()}
    got1 = {(r[0], r[1], r[2]) for r in out.collect()}
    assert got1 == got2
    # the index stores codes + the encode-time reconstruction norm —
    # never the raw embedding column
    assert set(codes.columns) == {"vec_id", "codes", "__rnorm"}


def test_pq_codes_shape(spark, emb):
    books = HF.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    codes = emb.select(HF.pq_encode(
        F.col("embedding").cast("array<double>"), books).alias("c"))
    r = codes.agg(F.max(F.array_max("c")), F.min(F.array_min("c")),
                  F.max(F.size("c"))).first()
    assert r[0] <= 15 and r[1] >= 0 and r[2] == 8


def test_pq_trained_reduces_distortion(spark, emb):
    books0 = HF.pq_codebooks(emb, "vec_id", "embedding")
    booksT = HF.pq_codebooks_trained(emb, "vec_id", "embedding", iters=2)
    v = F.col("embedding").cast("array<double>")

    def distortion(bk):
        recon = HF.pq_reconstruct(HF.pq_encode(v, bk), bk)
        d = F.aggregate(F.zip_with(v, recon, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x)
        return emb.select(F.avg(d)).first()[0]

    d0, dt = distortion(books0), distortion(booksT)
    assert dt < d0, (dt, d0)
    # codebook shape preserved by training
    assert len(booksT) == 8 and len(booksT[0]) == 16 \
        and len(booksT[0][0]) == 8


def test_ivfpq_index_probe(spark, emb, tmp_table_path):
    """The persisted IVF-PQ layout: centroid partition pruning on the scan
    AND no raw embedding column in the index."""
    books = HF.pq_codebooks(emb, "vec_id", "embedding")
    cents = HF.kmeans_centroids(emb, "vec_id", "embedding",
                                n_centroids=8, iters=1)
    HF.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                         tmp_table_path)
    idx = spark.read.parquet(tmp_table_path)
    assert set(idx.columns) == {"vec_id", "codes", "centroid", "__rnorm"}
    qs = emb.filter("vec_id < 10")
    out = HF.ivfpq_topk_from_index(spark, tmp_table_path, cents, books,
                                   qs, "vec_id", "embedding",
                                   k=10, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid" in plan
    rows = out.collect()
    assert len(rows) == 100  # 10 queries x k=10
    # sanity: probing more lists can only help; results within the probed
    # lists agree with brute force restricted to those lists
    bf = {(r[0], r[1]) for r in HF.brute_force_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id").collect()}
    got = {(r[0], r[1]) for r in rows}
    assert len(bf & got) / len(bf) >= 0.1  # well above random (2%)


def test_tfidf_hand_checked(spark):
    """3-doc model: idf separates the shared term from the rare one."""
    import math
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "apple cherry"), (3, "apple")],
        ["doc_id", "text"])
    t = {(r.doc_id, r.term): r.tfidf
         for r in HF.tfidf_terms(df, "doc_id", "text").collect()}
    idf_apple = math.log(4 / 4) + 1.0       # df=3, N=3
    idf_banana = math.log(4 / 2) + 1.0      # df=1
    assert t[(1, "apple")] == round(2 / 3 * idf_apple, 6)
    assert t[(1, "banana")] == round(1 / 3 * idf_banana, 6)
    assert t[(3, "apple")] == round(1.0 * idf_apple, 6)
    assert (2, "banana") not in t  # zero entries are absent


def test_tfidf_vectors_feed_similarity(spark, docs):
    """The dense form rides the same ANN machinery as embeddings."""
    v = HF.tfidf_vectors(docs, "doc_id", "text").cache()
    dim = len(v.first()["tfidf"])
    assert dim >= 16
    qs = v.filter("doc_id < 5")
    top = HF.brute_force_topk(v, qs, "doc_id", "tfidf", k=5)
    rows = top.collect()
    assert len(rows) == 25
    assert all(r["cos"] <= 1.0 + 1e-9 for r in rows)
    # near-dup docs (the synthetic corpus plants them) rank close
    assert any(r["cos"] > 0.9 for r in rows)
    v.unpersist()


def test_bpe_train_hand_checked(spark):
    """Textbook corpus: the most frequent adjacent pair merges first,
    ties break lexicographically, merges chain into longer units."""
    df = spark.createDataFrame(
        [(1, "low low low lower lower")], ["id", "text"])
    merges = HF.bpe_train(df, "text", num_merges=4)
    # 'l o' and 'o w' both appear 5x; 'l o' is lexicographically first
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")  # chained: now 'lo w' appears 5x
    assert ("low", "</w>") in merges  # the full word closes


def test_bpe_encode_matches_training_state(spark):
    """Encoding a training word with the learned merges reproduces the
    trainer's final symbol sequence (greedy lowest-rank-first)."""
    df = spark.createDataFrame(
        [(1, "banana banana bandana")], ["id", "text"])
    merges = HF.bpe_train(df, "text", num_merges=6)
    out = df.select(HF.bpe_encode("text", merges).alias("t")).first()["t"]
    # round-trip: concatenating tokens (stripping the end marker) gives
    # back the normalized text
    joined = "".join(out).replace("</w>", " ").strip()
    assert joined == "banana banana bandana"
    # token count column agrees with the encode array
    n = df.select(HF.bpe_token_count("text", merges).alias("n")).first()["n"]
    assert n == len(out)


def test_bpe_corpus_compresses(spark, docs):
    """More merges -> fewer tokens; the vocabulary actually compresses."""
    m16 = HF.bpe_train(docs, "text", num_merges=16)
    m64 = HF.bpe_train(docs, "text", num_merges=64)
    assert m16 == m64[:16]  # training is deterministic and prefix-stable
    n16 = docs.select(F.sum(HF.bpe_token_count("text", m16))).first()[0]
    n64 = docs.select(F.sum(HF.bpe_token_count("text", m64))).first()[0]
    assert n64 < n16


def test_pq_rejects_indivisible_subspaces(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        HF.pq_codebooks(emb, "vec_id", "embedding", m=7)


def test_quality_ops_edge_inputs(spark):
    """Empty/whitespace/unicode text must not crash or divide by zero."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "héllo wörld msg msg msg msg"),
         (4, None)], ["doc_id", "text"])
    m = df.filter("text is not null").select(
        "doc_id", HF.gopher_metrics("text").alias("m")).select(
        "doc_id", "m.*").collect()
    assert all(r.mean_word_len is not None for r in m)
    out = HF.dedup_spans(df.filter("text is not null"), "doc_id", "text")
    assert out.count() >= 1  # unicode doc survives with its spans
    t = HF.tfidf_terms(df.filter("text is not null"), "doc_id", "text")
    assert t.filter("term = 'wörld'").count() == 1


def test_pq_rerank_full_shortlist_equals_bruteforce(spark, emb):
    """With a shortlist covering the whole corpus the exact re-rank must
    reproduce brute-force ranks exactly — quantization error fully
    repaired."""
    qs = emb.filter("vec_id < 5")
    n = emb.count()
    bf = {(r[0], r[1], r[2]) for r in HF.brute_force_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id", "rank").collect()}
    rr = {(r[0], r[1], r[2]) for r in HF.pq_topk_rerank(
        emb, qs, "vec_id", "embedding", k=10, shortlist=n)
        .select("query_id", "neighbor_id", "rank").collect()}
    assert rr == bf


def test_pq_rerank_improves_recall_and_uses_index(spark, emb,
                                                  tmp_table_path):
    qs = emb.filter("vec_id < 10")
    bf = {(r[0], r[1]) for r in HF.brute_force_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id").collect()}
    adc = {(r[0], r[1]) for r in HF.pq_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id").collect()}
    out = HF.pq_topk_rerank(emb, qs, "vec_id", "embedding", k=10,
                            shortlist=50)
    rr = {(r[0], r[1]) for r in
          out.select("query_id", "neighbor_id").collect()}
    # exact re-rank can only help: recall vs brute force >= raw ADC recall
    assert len(bf & rr) >= len(bf & adc)
    # dense ranks, cos non-increasing with rank
    rows = out.orderBy("query_id", "rank").collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        coss = [r.cos for r in rs]
        assert all(a >= b for a, b in zip(coss, coss[1:]))
    # pre-encoded index path: identical result, raw corpus never scanned
    # in stage 1
    books = HF.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    HF.write_pq_index(emb, books, "vec_id", "embedding", tmp_table_path)
    codes = spark.read.parquet(tmp_table_path)
    rr2 = {(r[0], r[1], r[2]) for r in HF.pq_topk_rerank(
        emb, qs, "vec_id", "embedding", k=10, shortlist=50, books=books,
        codes_df=codes).select("query_id", "neighbor_id", "rank").collect()}
    rr1 = {(r[0], r[1], r[2]) for r in
           out.select("query_id", "neighbor_id", "rank").collect()}
    assert rr1 == rr2


def test_ivfpq_probe_with_exact_rerank(spark, emb, tmp_table_path):
    """The full serving combo: pruned ADC shortlist + exact re-rank.
    With every list probed and a corpus-wide shortlist the result must
    equal brute force exactly; with a narrow probe, re-rank recall is at
    least the plain ADC probe's recall."""
    books = HF.pq_codebooks(emb, "vec_id", "embedding")
    cents = HF.kmeans_centroids(emb, "vec_id", "embedding",
                                n_centroids=8, iters=1)
    HF.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                         tmp_table_path)
    qs = emb.filter("vec_id < 5")
    n = emb.count()
    bf = {(r[0], r[1], r[2]) for r in HF.brute_force_topk(
        emb, qs, "vec_id", "embedding", k=10)
        .select("query_id", "neighbor_id", "rank").collect()}
    full = {(r[0], r[1], r[2]) for r in HF.ivfpq_topk_from_index(
        spark, tmp_table_path, cents, books, qs, "vec_id", "embedding",
        k=10, n_probe=8, rerank_corpus=emb, shortlist=n).collect()}
    assert full == bf
    bf10 = {(a, b) for a, b, _ in bf}
    plain = {(r[0], r[1]) for r in HF.ivfpq_topk_from_index(
        spark, tmp_table_path, cents, books, qs, "vec_id", "embedding",
        k=10, n_probe=4).select("query_id", "neighbor_id").collect()}
    rr = {(r[0], r[1]) for r in HF.ivfpq_topk_from_index(
        spark, tmp_table_path, cents, books, qs, "vec_id", "embedding",
        k=10, n_probe=4, rerank_corpus=emb, shortlist=50)
        .select("query_id", "neighbor_id").collect()}
    assert len(bf10 & rr) >= len(bf10 & plain)


def test_cluster_balanced_sample_quota_and_determinism(spark, emb):
    out = HF.cluster_balanced_sample(emb, "vec_id", "embedding",
                                     per_cluster=5, n_clusters=8)
    rows = out.collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r[1], []).append(r[0])
    # quota respected per cluster, centroids are the smallest-id rows
    assert all(len(v) <= 5 for v in by_c.values())
    assert set(by_c) <= set(range(8))
    # kept ids are a subset of the corpus and deterministic across runs
    again = {(r[0], r[1]) for r in HF.cluster_balanced_sample(
        emb, "vec_id", "embedding", per_cluster=5, n_clusters=8).collect()}
    assert {(r[0], r[1]) for r in rows} == again
    # a corpus-sized quota keeps every row, assignment matching ivf's
    n = emb.count()
    full = HF.cluster_balanced_sample(emb, "vec_id", "embedding",
                                      per_cluster=n, n_clusters=8)
    assert full.count() == n


def test_int8_quantization_roundtrip_and_topk(spark, emb):
    """Quantization error bound (|x - code*scale| <= scale/2 per element),
    zero-vector handling, and int8 inner-product top-k recall vs the exact
    inner-product ranking."""
    qz = HF.quantize_embeddings(emb, "vec_id", "embedding")
    joined = emb.join(qz, "vec_id").select(
        F.max(F.array_max(F.zip_with(
            F.col("embedding"), F.col("codes"),
            lambda x, c: F.abs(x.cast("double") - c * F.col("scale"))
        ))).alias("max_err"),
        F.max(F.array_max(F.transform(
            F.col("codes"), lambda c: F.abs(c)))).alias("max_code"),
        F.max("scale").alias("max_scale")).first()
    assert joined["max_code"] <= 127
    assert joined["max_err"] <= joined["max_scale"] / 2 + 1e-12
    # zero vector: scale 0, all-zero codes, no division blowup
    z = spark.createDataFrame([(1, [0.0] * 4), (2, [1.0, -2.0, 0.5, 4.0])],
                              "vec_id int, embedding array<float>")
    rows = {r.vec_id: r for r in
            HF.quantize_embeddings(z, "vec_id", "embedding").collect()}
    assert rows[1].scale == 0.0 and set(rows[1].codes) == {0}
    assert rows[2].codes[3] == 127  # max element pins to 127
    # top-k over int8 codes tracks the exact inner-product ranking
    queries = emb.filter(F.col("vec_id") < 10)
    got = HF.int8_topk(emb, queries, "vec_id", "embedding", k=10)
    from hoodie_spark.functions.similarity import _prep, dot
    c, q = _prep(emb, "vec_id", "embedding", "c"), _prep(
        queries, "vec_id", "embedding", "q")
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id"))
    exact = (c.crossJoin(F.broadcast(q))
             .filter(F.col("c_id") != F.col("q_id"))
             .select(F.col("q_id").alias("query_id"),
                     F.col("c_id").alias("neighbor_id"),
                     dot("c_v", "q_v").alias("ip"))
             .withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= 10))
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(g & e) / len(e) >= 0.9  # recall@10 of the quantized path


def test_int8_quantize_plan_is_map_only(spark, emb):
    """quantize_embeddings must stay a single map stage: no Exchange, no
    Join — the 4x-bandwidth serving claim assumes the codes come off the
    scan for free."""
    plan = (HF.quantize_embeddings(emb, "vec_id", "embedding")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan


def test_int8_index_probe_equals_direct(spark, emb, tmp_table_path):
    """The persisted int8 index probe must return exactly what the
    direct (quantize-per-call) path returns — build once, probe cheap."""
    import os

    idx = os.path.join(tmp_table_path, "int8_idx")
    HF.write_int8_index(emb, "vec_id", "embedding", idx)
    queries = emb.filter(F.col("vec_id") < 8)
    direct = sorted((r.query_id, r.neighbor_id, r.rank) for r in
                    HF.int8_topk(emb, queries, "vec_id", "embedding",
                                 k=10).collect())
    via_idx = sorted((r.query_id, r.neighbor_id, r.rank) for r in
                     HF.int8_topk_from_index(spark, idx, queries, "vec_id",
                                             "embedding", k=10).collect())
    assert via_idx == direct
    # the probe plan reads ONLY the index (codes+scale), never embeddings
    plan = HF.int8_topk_from_index(spark, idx, queries, "vec_id",
                                   "embedding", k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "int8_idx" in plan


# ----------------------------------------------------- hard negatives


def test_hard_negatives_all_cross_label_and_ranked(spark, emb):
    """Every mined negative has a different label than its query, ranks
    are 1..k dense per query, and rank order follows cosine DESC with
    neighbor_id tie-break (the brute_force_topk contract)."""
    queries = emb.filter(F.col("vec_id") < 6)
    out = HF.hard_negative_mine(emb, queries, "vec_id", "embedding",
                                "label", k=8).collect()
    qlab = {r.vec_id: r.label for r in queries.collect()}
    by_q = {}
    for r in out:
        assert r.neighbor_label != qlab[r.query_id]
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos,
                                                r.neighbor_id))
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        coss = [r[1] for r in rows]
        assert coss == sorted(coss, reverse=True)


def test_hard_negatives_never_harder_than_unfiltered_top(spark, emb):
    """The hardest negative can't beat the unfiltered top-1: mining is
    brute_force_topk restricted to cross-label pairs."""
    queries = emb.filter(F.col("vec_id") < 4)
    neg = {r.query_id: r.cos for r in HF.hard_negative_mine(
        emb, queries, "vec_id", "embedding", "label", k=1).collect()}
    top = {r.query_id: r.cos for r in HF.brute_force_topk(
        emb, queries, "vec_id", "embedding", k=1).collect()}
    for q in neg:
        assert neg[q] <= top[q] + 1e-12


def test_hard_negatives_cos_band_and_null_labels(spark):
    """min_cos/max_cos bound the mined band; NULL-label rows are
    excluded from both sides (unknown class is not assertable)."""
    rows = [(0, [1.0, 0.0], 0), (1, [0.99, 0.14], 1),
            (2, [0.7, 0.71], 1), (3, [0.0, 1.0], 2),
            (4, [0.95, 0.31], None)]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label int")
    out = HF.hard_negative_mine(df, df.filter("vec_id = 0"), "vec_id",
                                "embedding", "label", k=10,
                                min_cos=0.5, max_cos=0.98).collect()
    got = {r.neighbor_id for r in out}
    # 1 excluded by max_cos (~0.990), 3 by min_cos (0.0), 4 by NULL label
    assert got == {2}
    # and a NULL-label QUERY mines nothing
    assert HF.hard_negative_mine(df, df.filter("vec_id = 4"), "vec_id",
                                 "embedding", "label", k=10).count() == 0


def test_hard_negatives_ivf_recall_vs_exact(spark, emb):
    """The inverted-list scale path recovers most exact hard negatives
    (oversampling absorbs the label filter) and obeys the same contract."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in HF.hard_negative_mine(
        emb, queries, "vec_id", "embedding", "label", k=5).collect()}
    approx_rows = HF.hard_negative_mine_ivf(
        emb, queries, "vec_id", "embedding", "label", k=5, oversample=6,
        n_centroids=8, n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    qlab = {r.vec_id: r.label for r in queries.collect()}
    assert all(r.neighbor_label != qlab[r.query_id] for r in approx_rows)
    assert len(approx & exact) / len(exact) >= 0.6


def test_hard_negatives_plan_broadcasts_queries(spark, emb):
    """The corpus side must never shuffle before scoring: queries are the
    broadcast side of a map-side nested loop."""
    queries = emb.filter(F.col("vec_id") < 4)
    plan = HF.hard_negative_mine(emb, queries, "vec_id", "embedding",
                                 "label", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# ------------------------------------------- IVF index maintenance (r12)
def _probe(spark, path, emb, cents, k=10, n_probe=4):
    return sorted(map(tuple, HF.ivf_topk_from_index(
        spark, path, cents, emb.filter(F.col("vec_id") < 10),
        "vec_id", "embedding", k=k, n_probe=n_probe)
        .select("query_id", "neighbor_id", "rank").collect()))


def test_ivf_append_equals_full_rebuild(spark, emb, tmp_table_path):
    """build(evens) + append(odds) must probe EXACTLY like a full rebuild
    over the union corpus with the same frozen centroid set — the
    incremental path is content-identical, only delta-sized."""
    cents = emb.filter(F.col("vec_id") < 16)
    inc, full = f"{tmp_table_path}/inc", f"{tmp_table_path}/full"
    HF.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), cents,
                       "vec_id", "embedding", inc)
    HF.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), cents,
                        "vec_id", "embedding", inc)
    HF.write_ivf_index(emb, cents, "vec_id", "embedding", full)
    assert _probe(spark, inc, emb, cents) == _probe(spark, full, emb, cents)


def test_ivf_delete_is_partition_pruned_and_exact(spark, emb,
                                                  tmp_table_path):
    """Deleting ids rewrites ONLY the touched inverted lists (untouched
    centroid dirs stay byte-identical) and the surviving index probes
    exactly like a fresh build over the surviving corpus; an entirely
    emptied list's directory is removed."""
    import os

    cents = emb.filter(F.col("vec_id") < 16)
    path = f"{tmp_table_path}/idx"
    HF.write_ivf_index(emb, cents, "vec_id", "embedding", path)
    idx = spark.read.parquet(path)
    # pick one whole list to empty and a few ids from another
    by_c = [(r["centroid"], r["n"]) for r in
            idx.groupBy("centroid").agg(F.count("*").alias("n")).collect()]
    victim_c = min(by_c, key=lambda t: t[1])[0]
    victim_ids = [r.vec_id for r in
                  idx.filter(F.col("centroid") == victim_c)
                  .select("vec_id").collect()]
    other_c = max(by_c, key=lambda t: t[1])[0]
    extra = [r.vec_id for r in idx.filter(F.col("centroid") == other_c)
             .select("vec_id").limit(3).collect()]
    untouched = [c for c, _ in by_c if c not in (victim_c, other_c)][0]
    udir = os.path.join(path, f"centroid={untouched}")
    before = {f: os.path.getmtime(os.path.join(udir, f))
              for f in os.listdir(udir)}
    dels = spark.createDataFrame([(i,) for i in victim_ids + extra],
                                 "vec_id long")
    n = HF.delete_from_ivf_index(spark, path, dels, "vec_id")
    assert n == len(victim_ids) + 3
    after = {f: os.path.getmtime(os.path.join(udir, f))
             for f in os.listdir(udir)}
    assert after == before  # untouched list not rewritten
    assert not os.path.exists(os.path.join(path, f"centroid={victim_c}"))
    survivors = emb.join(dels, "vec_id", "left_anti")
    fresh = f"{tmp_table_path}/fresh"
    HF.write_ivf_index(survivors, cents, "vec_id", "embedding", fresh)
    assert _probe(spark, path, emb, cents) == \
        _probe(spark, fresh, emb, cents)


def test_ivf_compact_folds_append_files(spark, emb, tmp_table_path):
    """Three appends leave multiple files per list; compact folds each
    list to ONE file without changing probe results."""
    import glob
    import os

    cents = emb.filter(F.col("vec_id") < 16)
    path = f"{tmp_table_path}/idx"
    HF.write_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), cents,
                       "vec_id", "embedding", path)
    for m in (1, 2):
        HF.append_ivf_index(emb.filter(F.col("vec_id") % 3 == m), cents,
                            "vec_id", "embedding", path)
    def files_per_list():
        return {d: len(glob.glob(os.path.join(path, d, "*.parquet")))
                for d in os.listdir(path) if d.startswith("centroid=")}
    assert max(files_per_list().values()) >= 3
    before = _probe(spark, path, emb, cents)
    HF.compact_ivf_index(spark, path)
    assert max(files_per_list().values()) == 1
    assert _probe(spark, path, emb, cents) == before
    total = spark.read.parquet(path).count()
    assert total == emb.count()


def test_ivfpq_append_equals_full_rebuild(spark, emb, tmp_table_path):
    """build(evens) + append(odds) with the SAME frozen centroids AND
    codebooks must probe exactly like a full IVF-PQ rebuild over the
    union — both codes-only ADC and the exact-rerank serving combo."""
    cents = emb.filter(F.col("vec_id") < 16)
    books = HF.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    inc, full = f"{tmp_table_path}/inc", f"{tmp_table_path}/full"
    HF.write_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), cents,
                         books, "vec_id", "embedding", inc)
    HF.append_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), cents,
                          books, "vec_id", "embedding", inc)
    HF.write_ivfpq_index(emb, cents, books, "vec_id", "embedding", full)
    q = emb.filter(F.col("vec_id") < 10)

    def probe(path, **kw):
        return sorted(map(tuple, HF.ivfpq_topk_from_index(
            spark, path, cents, books, q, "vec_id", "embedding",
            k=10, n_probe=4, **kw)
            .select("query_id", "neighbor_id", "rank").collect()))
    assert probe(inc) == probe(full)
    assert probe(inc, rerank_corpus=emb, shortlist=30) == \
        probe(full, rerank_corpus=emb, shortlist=30)
    # maintenance ops share the layout: delete + compact keep ADC parity
    dels = spark.createDataFrame([(i,) for i in range(20, 40)],
                                 "vec_id long")
    assert HF.delete_from_ivf_index(spark, inc, dels, "vec_id") == 20
    HF.compact_ivf_index(spark, inc)
    fresh = f"{tmp_table_path}/fresh"
    HF.write_ivfpq_index(emb.join(dels, "vec_id", "left_anti"), cents,
                         books, "vec_id", "embedding", fresh)
    assert probe(inc) == probe(fresh)


def test_pq_codebooks_short_corpus_raises(spark):
    """k codes need k corpus rows — a short book would IndexError deep in
    pq_codebooks_trained with no hint of the cause."""
    from hoodie_spark.functions.similarity import pq_codebooks

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(5))
    with pytest.raises(ValueError, match="only 5 rows"):
        pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)


def test_pq_encode_null_and_ragged_vectors(spark):
    """Dirty corpora must encode to null codes, not crash the task (the
    Column expression this UDF replaced tolerated them)."""
    from hoodie_spark.functions.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    dirty = spark.createDataFrame(
        [(1, None), (2, [0.5] * 64), (3, [1.0] * 10)],
        "vec_id int, embedding array<double>")
    rows = {r["vec_id"]: r["codes"] for r in dirty.select(
        "vec_id", pq_encode(F.col("embedding"), books).alias("codes"))
        .collect()}
    assert rows[1] is None and rows[3] is None
    assert rows[2] is not None and len(rows[2]) == 8


def test_ivfpq_probe_legacy_index_without_rnorm(spark, tmp_table_path):
    """Indexes persisted before the encode-time __rnorm column must still
    probe (norm recomputed from codes), like pq_topk's legacy branch."""
    from hoodie_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = S.pq_codebooks(emb, "vec_id", "embedding")
    cents = S.kmeans_centroids(emb, "vec_id", "embedding",
                               n_centroids=4, iters=1)
    S.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                        tmp_table_path)
    legacy_path = tmp_table_path + "_legacy"
    (spark.read.parquet(tmp_table_path).drop("__rnorm")
     .write.partitionBy("centroid").parquet(legacy_path))
    qs = emb.filter("vec_id < 5")
    new = {(r[0], r[1], r[2]) for r in S.ivfpq_topk_from_index(
        spark, tmp_table_path, cents, books, qs, "vec_id", "embedding",
        k=5, n_probe=2).collect()}
    old = {(r[0], r[1], r[2]) for r in S.ivfpq_topk_from_index(
        spark, legacy_path, cents, books, qs, "vec_id", "embedding",
        k=5, n_probe=2).collect()}
    assert new == old and len(new) == 25


def test_ivfpq_probe_string_ids(spark, tmp_table_path):
    """The probe builds its LUT/probe frames from the caller's id dtype —
    string ids must work end to end (the old hardcoded 'q_id long'
    schema raised TypeError)."""
    from hoodie_spark.functions import similarity as S

    emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .select(F.concat(F.lit("doc-"), F.lpad(
               F.col("vec_id").cast("string"), 4, "0")).alias("vec_id"),
               "embedding"))
    books = S.pq_codebooks(emb, "vec_id", "embedding")
    cents = emb.orderBy("vec_id").limit(4)
    S.write_ivfpq_index(emb, cents, books, "vec_id", "embedding",
                        tmp_table_path)
    qs = emb.orderBy("vec_id").limit(3)
    out = S.ivfpq_topk_from_index(spark, tmp_table_path, cents, books,
                                  qs, "vec_id", "embedding",
                                  k=5, n_probe=2).collect()
    assert len(out) == 15
    assert all(isinstance(r["query_id"], str) and
               isinstance(r["neighbor_id"], str) for r in out)


def test_driver_norm_equals_spark_norm(spark):
    """The driver-side query norm (PQ lookup tables, IVF probe plan) must
    equal _prep's l2_norm bit for bit. ``n2 ** 0.5`` is not correctly
    rounded and was 1 ULP off on a few of these vectors (Spark's sqrt
    is, like math.sqrt)."""
    import random

    from hoodie_spark.functions import similarity as S

    random.seed(1)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)])
            for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    spark_n = {r[0]: r[2] for r in
               S._prep(df, "vec_id", "embedding", "q").collect()}
    books = [[[0.0] * 8]]  # m=1, one code: the LUTs carry the query norm
    driver_n = {r["q_id"]: r["q_n"] for r in
                S._pq_luts(df, "vec_id", "embedding", books).collect()}
    off = [i for i in spark_n if spark_n[i] != driver_n[i]]
    assert not off, f"{len(off)} norms differ, e.g. vec_id {off[0]}"


def _ties(spark):
    """Query 0 has cosine 1.0 to the five copies of its vector (ids 12, 3,
    7, 5, 9, inserted in that order) and a lower one to everything else;
    labels make every copy a negative of the query."""
    q = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    others = [[8.0, 1.0, 0.5, 0.0, 0.0, 0.5, 1.0, 0.0],
              [0.0, 0.0, 1.0, -2.0, 0.5, 0.0, 0.0, 1.0],
              [2.0, -1.0, 0.0, 0.0, 3.0, -1.0, 0.0, 0.0],
              [-1.0, 0.5, 0.0, 1.0, 0.0, 0.0, -2.0, 0.5]]
    rows = ([(0, q, "a")] + [(i, q, "b") for i in (12, 3, 7, 5, 9)]
            + [(20 + j, v, "b") for j, v in enumerate(others)])
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, label string")


def test_every_topk_operator_breaks_ties_toward_the_smaller_id(
        spark, tmp_table_path):
    from hoodie_spark.functions import similarity as S

    corpus = _ties(spark)
    qs = corpus.filter("vec_id = 0")
    args = ("vec_id", "embedding")
    books = S.pq_codebooks(corpus, *args, m=2, k=4)
    cents = corpus.orderBy("vec_id").limit(2)
    S.write_ivf_index(corpus, cents, *args, tmp_table_path + "/ivf")
    S.write_ivfpq_index(corpus, cents, books, *args,
                        tmp_table_path + "/ivfpq")
    S.write_int8_index(corpus, *args, tmp_table_path + "/i8")
    ops = {
        "brute_force": lambda: S.brute_force_topk(corpus, qs, *args, k=3),
        "lsh": lambda: S.lsh_bucket_topk(corpus, qs, *args, k=3, dim=8),
        "ivf": lambda: S.ivf_topk(corpus, qs, *args, k=3, n_centroids=2,
                                  n_probe=1),
        "ivf_from_index": lambda: S.ivf_topk_from_index(
            spark, tmp_table_path + "/ivf", cents, qs, *args, k=3,
            n_probe=1),
        "pq": lambda: S.pq_topk(corpus, qs, *args, k=3, books=books),
        "pq_rerank": lambda: S.pq_topk_rerank(corpus, qs, *args, k=3,
                                              shortlist=6, books=books),
        "int8": lambda: S.int8_topk(corpus, qs, *args, k=3),
        "int8_from_index": lambda: S.int8_topk_from_index(
            spark, tmp_table_path + "/i8", qs, *args, k=3),
        "ivfpq_from_index": lambda: S.ivfpq_topk_from_index(
            spark, tmp_table_path + "/ivfpq", cents, books, qs, *args,
            k=3, n_probe=1),
        "hard_negatives": lambda: S.hard_negative_mine(
            corpus, qs, *args, "label", k=3),
        "hard_negatives_ivf": lambda: S.hard_negative_mine_ivf(
            corpus, qs, *args, "label", k=3, oversample=2, n_centroids=2,
            n_probe=1),
    }
    for name, op in ops.items():
        got = sorted((r["rank"], r["neighbor_id"]) for r in op().collect())
        assert got == [(1, 3), (2, 5), (3, 7)], name


@pytest.mark.parametrize("case", [
    "brute_force_k", "lsh_k", "int8_k", "hard_negatives_k",
    "knn_classify_k", "ivf_n_probe", "ivf_from_index_n_probe",
    "ivfpq_n_probe", "pq_rerank_shortlist", "ivfpq_rerank_shortlist",
    "hard_negatives_ivf_oversample"])
def test_ann_operators_reject_bad_counts(spark, emb, case):
    """k, n_probe, oversample below 1 and a shortlist shorter than k used
    to return no rows, or fewer than k per query, without a word."""
    from hoodie_spark.functions import similarity as S

    args = ("vec_id", "embedding")
    qs = emb.filter("vec_id < 3")
    missing = "/nonexistent/index"  # the check runs before any read
    calls = {
        "brute_force_k": lambda: S.brute_force_topk(emb, qs, *args, k=0),
        "lsh_k": lambda: S.lsh_bucket_topk(emb, qs, *args, k=0),
        "int8_k": lambda: S.int8_topk(emb, qs, *args, k=0),
        "hard_negatives_k": lambda: S.hard_negative_mine(
            emb, qs, *args, "label", k=0),
        "knn_classify_k": lambda: S.knn_classify(emb, qs, *args, "label",
                                                 k=0),
        "ivf_n_probe": lambda: S.ivf_topk(emb, qs, *args, n_probe=0),
        "ivf_from_index_n_probe": lambda: S.ivf_topk_from_index(
            spark, missing, emb, qs, *args, n_probe=0),
        "ivfpq_n_probe": lambda: S.ivfpq_topk_from_index(
            spark, missing, emb, None, qs, *args, n_probe=0),
        "pq_rerank_shortlist": lambda: S.pq_topk_rerank(
            emb, qs, *args, k=10, shortlist=5),
        "ivfpq_rerank_shortlist": lambda: S.ivfpq_topk_from_index(
            spark, missing, emb, None, qs, *args, k=10,
            rerank_corpus=emb, shortlist=5),
        "hard_negatives_ivf_oversample": lambda: S.hard_negative_mine_ivf(
            emb, qs, *args, "label", oversample=0),
    }
    with pytest.raises(ValueError, match="must be at least"):
        calls[case]()


def test_ann_ranks_and_centroid_choices_share_one_tail():
    """Every top-k tail and nearest-centroid window goes through _top_k;
    the only other row_number is cluster_balanced_sample's md5-order
    quota."""
    import inspect

    from hoodie_spark.functions import similarity as S

    src = inspect.getsource(S)
    assert src.count("row_number().over") == 2
    assert "row_number().over" in inspect.getsource(S._top_k)
    assert "row_number().over" in inspect.getsource(
        S.cluster_balanced_sample)
