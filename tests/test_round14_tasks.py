"""Round-14 verdict tasks: exact-duplicate edge de-skew (the last
hot-hash windows) and the BigramLM release path."""

from pyspark.sql import functions as F

from hoodie_spark import functions as HF

SF_DIR = "/root/testdata/sf0.001"
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _docs(spark, n=60):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < n))


# ------------------------------------------------- exact-edge de-skew
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


def test_exact_dedup_no_window_and_min_id_kept(spark):
    df = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "same"), (7, "other")],
        "id long, text string")
    out = HF.exact_dedup(df, ["text"], "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert sorted(r["id"] for r in out.collect()) == [2, 7]


def test_seen_dedup_exact_pass_no_window(spark):
    docs = _docs(spark, n=200)
    out = HF.seen_dedup(docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000)),
        "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # every +10k copy has an exact duplicate earlier (its original) —
    # all drop; the originals' keep-set is the single-corpus one (the sf
    # docs carry duplicates among THEMSELVES, so compare, don't count)
    assert out.filter(F.col("doc_id") >= 10_000).count() == 0
    want = {r["doc_id"] for r in
            HF.seen_dedup(docs, "doc_id", "text").select("doc_id").collect()}
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == want


# ------------------------------------------------- BigramLM release
def test_bigram_lm_unpersist_releases_distributed_model(spark):
    docs = _docs(spark, n=60)
    lm = HF.train_bigram_lm(docs, "text", vocab_size=32,
                            broadcast_model_rows=0)  # force distributed
    assert not lm.broadcast
    # r16: the persisted frame is the shared (w1, w2, cb, cw) census both
    # model tables project from — that is what holds executor storage
    assert lm._census is not None and lm._census.is_cached
    lm.unpersist()
    assert not lm._census.is_cached
    # broadcast model: no-op, nothing persisted
    small = HF.train_bigram_lm(docs, "text", vocab_size=32)
    assert small.broadcast
    small.unpersist()
