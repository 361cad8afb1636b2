"""Tests for the training-data pipeline operators (functions package)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hoodie_spark import functions as HF
from hoodie_spark.functions.components import (_is_star_forest,
                                               duplicate_groups)
from hoodie_spark.functions.dedup import exact_text_pairs, lsh_plan

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def dup_corpus(spark, docs):
    """Originals + perturbed copies (id+10000, ' zz' appended)."""
    pert = (docs.withColumn("doc_id", F.col("doc_id") + 10000)
                .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    return docs.unionByName(pert).cache()


# ------------------------------------------------------------------- text
def test_token_count_matches_python(docs):
    rows = docs.select("text", HF.token_count("text").alias("tc")).limit(50).collect()
    for r in rows:
        assert r.tc == len([t for t in r.text.lower().split() if t])


def test_lang_id_deterministic_and_closed(docs):
    langs = {r[0] for r in docs.select(HF.lang_id("text")).distinct().collect()}
    assert langs <= set(HF.LANG_PROFILES) | {"und"}


def test_quality_score_range(docs):
    mn, mx = docs.select(F.min(HF.quality_score("text")),
                         F.max(HF.quality_score("text"))).first()
    assert 0.0 <= mn <= mx <= 1.0


def test_fingerprint_is_md5_of_normalized(docs):
    r = docs.select("text", HF.fingerprint("text").alias("fp")).first()
    norm = " ".join(t for t in r.text.lower().split() if t)
    assert r.fp == hashlib.md5(norm.encode()).hexdigest()


def test_kmin_fingerprint_robust_to_small_edit(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + " zz"), (3, "completely different text about spark engines")],
        "id int, text string")
    fps = {r.id: r.fp for r in df.select("id", HF.kmin_fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


# ------------------------------------------------------------------ dedup
def test_exact_dedup(spark, docs):
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10000))
    kept = HF.exact_dedup(dup, ["text"], "doc_id")
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).first()[0] < 10000  # smallest id survives


def test_minhash_lsh_finds_near_dups(dup_corpus, docs):
    n = docs.count()
    pairs = HF.jaccard_dedup_pairs(dup_corpus, "doc_id", "text", threshold=0.8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 10000) for (i,) in docs.select("doc_id").collect()}
    # appending ' zz' keeps jaccard >= 0.8 for all but the shortest docs
    assert len(expected & found) > 0.9 * n
    for (a, b, j) in pairs.select("id_a", "id_b", "jaccard").limit(20).collect():
        assert 0.8 <= j <= 1.0


def test_jaccard_pairs_template_corpus(spark):
    """Template-heavy corpus probe: exact-Jaccard verification runs at the
    DISTINCT-TEXT grain, so 200 byte-identical copies of a template
    collapse to one content hash — within-template pairs come back as
    exactly 1.0 without any array verify, and every cross-template pair
    that surfaces matches the brute-force Jaccard of its two templates."""
    def shingles(t, n=5):
        t = " ".join(t.lower().split())
        return {t[i:i + n] for i in range(len(t) - n + 1)} if len(t) >= n else set()

    def jac(x, y):
        sx, sy = shingles(x), shingles(y)
        return len(sx & sy) / len(sx | sy) if (sx | sy) else None

    templates = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again!!",
        "pyspark catalyst optimizer rewrites declarative plans efficiently",
    ]
    copies = 200
    rows = [(t_i * 1000 + c, templates[t_i])
            for t_i in range(len(templates)) for c in range(copies)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in HF.jaccard_dedup_pairs(df, "doc_id", "text",
                                           threshold=0.8).collect()}
    within = {(a, b) for (a, b) in got
              if a // 1000 == b // 1000}
    # identical texts share every LSH band, so ALL within-template pairs
    # must surface, each with jaccard exactly 1.0
    n_within = 3 * copies * (copies - 1) // 2
    assert len(within) == n_within
    assert all(got[p] == 1.0 for p in within)
    # any cross-template pair that surfaced must carry the exact
    # brute-force jaccard of its two templates (and pass the threshold)
    for (a, b) in set(got) - within:
        expect = jac(templates[a // 1000], templates[b // 1000])
        assert expect is not None and expect >= 0.8
        assert abs(got[(a, b)] - expect) < 1e-12
    # template 2 is unrelated: even if banding ever made it a candidate,
    # verification must reject it
    assert not any(2 in (a // 1000, b // 1000) for (a, b) in set(got) - within)


def test_group_distinct_sketch_matches_python(spark):
    """est_distinct == exact python replay of the min-value sketch
    (engine-portable: the oracle checks the estimate itself)."""
    import hashlib

    rows = [(f"g{g}", f"val{(i * 13) % (40 * (g + 1))}")
            for g in range(3) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.est_distinct
           for r in HF.group_distinct_sketch(df, "g", "v",
                                             num_hashes=64).collect()}

    def est(values):
        total = 0.0
        for i in range(64):
            m = min(hashlib.md5(f"h{i}:{v}".encode()).hexdigest()
                    for v in values)
            total += (int(m[:15], 16) + 1) / float(16 ** 15 + 1)
        return round(64.0 / total - 1.0, 4)

    from collections import defaultdict
    by_g = defaultdict(set)
    for g, v in rows:
        by_g[g].add(v)
    for g, vals in by_g.items():
        assert got[g] == est(vals)
        # and the estimate is actually close to the exact count
        assert abs(got[g] - len(vals)) / len(vals) < 0.35


def test_group_distinct_sketch_nulls_and_layout(spark):
    rows = [("a", "x"), ("a", "y"), ("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.est_distinct
           for r in HF.group_distinct_sketch(df, "g", "v").collect()}
    assert set(got) == {"a"}  # all-NULL group absent, NULLs not counted
    df2 = spark.createDataFrame(rows * 5, "g string, v string")  # dups
    got2 = {r.g: r.est_distinct
            for r in HF.group_distinct_sketch(
                df2.repartition(7), "g", "v").collect()}
    assert got2 == got  # distinct-only, layout-invariant


def test_line_dedup_drops_boilerplate(spark):
    rows = []
    for i in range(30):
        lines = [f"unique content {i} alpha beta", "SUBSCRIBE NOW"]
        if i % 3 == 0:
            lines.append("all rights reserved")
        if i in (0, 1):
            lines.append("shared by exactly two docs")
        lines.append(f"tail {i}")
        rows.append((i, "\n".join(lines)))
    rows += [(100, "SUBSCRIBE NOW"), (101, "SUBSCRIBE NOW")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r.doc_id: r.text
           for r in HF.line_dedup(df, "doc_id", "text").collect()}
    assert len(out) == 32
    for i in range(30):
        assert out[i] == f"unique content {i} alpha beta\ntail {i}"
    # docs that were ALL boilerplate come back as empty strings
    assert out[100] == "" and out[101] == ""

    # max_df=2: the twice-shared line survives, the corpus-wide ones don't
    out2 = {r.doc_id: r.text
            for r in HF.line_dedup(df, "doc_id", "text", max_df=2).collect()}
    assert out2[0] == ("unique content 0 alpha beta\n"
                       "shared by exactly two docs\ntail 0")
    assert "SUBSCRIBE NOW" not in out2[5]


def test_edit_dedup_pairs(spark):
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    base = "the quick brown fox jumps over the lazy dog " * 4
    texts = {1: base, 2: base + "zz", 3: "a completely different document "
                                         "about catalyst plan rewrites " * 3,
             4: base}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.similarity
           for r in HF.edit_dedup_pairs(df, "doc_id", "text",
                                        threshold=0.9).collect()}
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert got[(1, 4)] == 1.0
    for (a, b) in ((1, 2), (2, 4)):
        expect = 1.0 - lev(texts[a], texts[b]) / max(len(texts[a]),
                                                     len(texts[b]))
        assert abs(got[(a, b)] - expect) < 1e-12


def test_edit_dedup_template_cluster(spark):
    """200 byte-identical copies: verification at the distinct-text grain
    short-circuits them to similarity 1.0 with zero levenshtein calls."""
    rows = [(i, "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = HF.edit_dedup_pairs(df, "doc_id", "text", threshold=0.9)
    rows = pairs.collect()
    assert len(rows) == 200 * 199 // 2
    assert all(r.similarity == 1.0 for r in rows)


def test_ngram_novelty(spark):
    corpus = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",   # clone: every gram shared
        3: "zeta eta theta iota kappa",        # fully unique
        4: "alpha beta gamma lambda mu",       # partial overlap with 1/2
        5: "xy",                               # too short for trigrams
    }
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.novel_frac)
           for r in HF.ngram_novelty(df, "doc_id", "text", n=3).collect()}

    def grams(t, n=3):
        w = t.lower().split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    from collections import Counter
    dfreq = Counter(g for d in corpus.values() for g in grams(d))
    assert 5 not in got  # no trigram, no row
    for d in (1, 2, 3, 4):
        gs = grams(corpus[d])
        expect = round(sum(dfreq[g] == 1 for g in gs) / len(gs), 6)
        assert got[d] == (len(gs), expect)


def test_simhash_identical_distance_zero(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma"), (2, "alpha beta gamma")],
                               "id int, text string")
    pairs = HF.simhash_dup_pairs(df, "id", "text", max_distance=0).collect()
    assert [(p.id_a, p.id_b, p.distance) for p in pairs] == [(1, 2, 0)]


def test_embedding_near_dup_pairs(emb):
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    pairs = HF.embedding_near_dup_pairs(dup, "vec_id", "embedding", threshold=0.999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(i, i + 10000) for (i,) in emb.select("vec_id").collect()}


# -------------------------------------------------------------- similarity
def test_brute_force_topk_matches_numpy(emb):
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat[:3] @ mat.T
    q = emb.filter(F.col("vec_id") < 3)
    got = HF.brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    for qi in range(3):
        order = [ids[j] for j in np.argsort(-sims[qi]) if ids[j] != qi][:5]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)
                if r.query_id == qi]
        assert mine == order


def test_ivf_and_lsh_shapes(emb):
    q = emb.filter(F.col("vec_id") < 4)
    for fn in (HF.ivf_topk, HF.lsh_bucket_topk):
        res = fn(emb, q, "vec_id", "embedding", k=5)
        per_q = res.groupBy("query_id").count().collect()
        assert all(r["count"] <= 5 for r in per_q)
        assert res.filter(F.col("neighbor_id") == F.col("query_id")).count() == 0


def test_ivf_recall_reasonable(emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = HF.brute_force_topk(emb, q, "vec_id", "embedding", k=10)
    approx = HF.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                         n_centroids=16, n_probe=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.3  # probing half the lists on random data


def test_ivf_kmeans_recall(emb):
    """Trained codebook: recall@10 >= 0.9 vs brute force while probing only
    half the inverted lists (the honest IVF quality bar)."""
    cents = HF.kmeans_centroids(emb, "vec_id", "embedding",
                                n_centroids=16, iters=4)
    assert cents.count() == 16
    q = emb.filter(F.col("vec_id") < 10)
    exact = HF.brute_force_topk(emb, q, "vec_id", "embedding", k=10)
    approx = HF.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                         n_probe=8, centroids=cents)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_ivf_persisted_index_prunes(emb, tmp_table_path):
    """partitionBy(centroid) layout: a probe reads only the probed lists
    (partition pruning) and returns the same result as the in-memory path."""
    import os

    spark = emb.sparkSession
    path = os.path.join(tmp_table_path, "ivf")
    cents = HF.kmeans_centroids(emb, "vec_id", "embedding",
                                n_centroids=8, iters=2)
    HF.write_ivf_index(emb, cents, "vec_id", "embedding", path)
    assert len(os.listdir(path)) >= 4  # centroid=... partition dirs
    q = emb.filter(F.col("vec_id") == 1)
    via_index = HF.ivf_topk_from_index(spark, path, cents, q, "vec_id",
                                       "embedding", k=10, n_probe=2)
    in_mem = HF.ivf_topk(emb, q, "vec_id", "embedding", k=10, n_probe=2,
                         centroids=cents)
    assert sorted(map(tuple, via_index.collect())) == \
        sorted(map(tuple, in_mem.collect()))
    # scan is pruned to the probed partition directories: the centroid IN
    # filter must land in the scan's PartitionFilters (inputFiles() reports
    # the unpruned file index, so read the physical plan instead)
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]


# -------------------------------------------------------------- multimodal
def test_media_attach_and_decode(docs):
    m = HF.attach_media(docs.select("doc_id", F.encode("text", "utf-8").alias("p")), "p",
                        media_type="image", fmt="png")
    out = HF.decode_media_meta(m).select("doc_id", "media_meta", "width", "height",
                                         "channels", "decode_digest").limit(20).collect()
    for r in out:
        assert r.media_meta.digest == r.decode_digest  # fake decode reads real bytes
        assert 1 <= r.width <= 1920 and 1 <= r.height <= 1080 and 1 <= r.channels <= 4


def test_decode_not_implemented_without_codec(docs):
    m = HF.attach_media(docs.select("doc_id", F.encode("text", "utf-8").alias("p")), "p")
    with pytest.raises(Exception, match="NotImplementedError|no media codec"):
        HF.decode_media_meta(m, fake=False).collect()


def test_decode_custom_codec_plugin(docs):
    """register_codec is the real-decoder plug-in point: a user codec runs
    inside the Arrow batch stage and its outputs land in the schema."""
    def byte_len_codec(b):
        return {"width": len(b) if b is not None else None, "height": 1,
                "channels": 1, "decode_digest": "custom"}

    HF.register_codec("bytelen", byte_len_codec)
    m = HF.attach_media(docs.select("doc_id", F.encode("text", "utf-8")
                                    .alias("p")), "p")
    out = HF.decode_media_meta(m, codec="bytelen").limit(5).collect()
    for r in out:
        assert r.width == r.media_meta.n_bytes
        assert r.decode_digest == "custom"
    # a bare callable works without registration too
    out2 = HF.decode_media_meta(m, codec=byte_len_codec).limit(1).collect()
    assert out2[0].height == 1


def test_sample_frames(spark):
    df = spark.createDataFrame([(1, b"x" * 200)], "id int, p binary")
    m = HF.attach_media(df, "p", media_type="video", fmt="raw")
    frames = HF.sample_frames(m, every_n_bytes=64, max_frames=8).collect()
    assert len(frames) == 4  # 200 bytes → ceil-ish: floor(200/64)+1 = 4 slices
    assert frames[0].frame_idx == 0 and len(frames[0].frame) == 64


# ------------------------------------------------------------ sessionize
def test_sessionize(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, base),
        (2, 7, base + dt.timedelta(seconds=100)),     # same session
        (3, 7, base + dt.timedelta(seconds=5000)),    # gap > 1800 -> new
        (4, 8, base),                                 # other user
    ]
    df = spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp")
    out = {r.event_id: (r.session_id, r.session_start)
           for r in HF.sessionize(df, "user_id", "ts", 1800).collect()}
    assert out[1][0] == out[2][0] == "7#0"
    assert out[3][0] == "7#1"
    assert out[4][0] == "8#0"
    assert out[1][1] == base and out[3][1] == rows[2][2]


# -------------------------------------------------------------- as-of join
def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 5, "c"), (3, 50, "d")],
        "k int, t int, lv string").withColumn("t", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [(1, 10, 100.0, 1), (1, 20, 200.0, 2), (1, 10, 150.0, 3),
         (2, 7, 300.0, 4)],
        "k int, t int, rv double, rid int") \
        .withColumn("t", F.timestamp_seconds("t"))
    return left, right


def test_asof_join_backward(spark):
    left, right = _asof_fixture(spark)
    out = HF.asof_join(left, right, ["k"], "t", right_cols=["rv"],
                       right_tiebreak="rid")
    got = {(r.k, r.lv): r.rv_asof for r in out.collect()}
    # k=1,t=10: two right rows at t=10 -> greatest rid (3) wins -> 150.0
    # k=1,t=25: latest <=25 is t=20 -> 200.0
    # k=2,t=5 : no right row <=5 -> null; k=3: no right rows at all
    assert got == {(1, "a"): 150.0, (1, "b"): 200.0,
                   (2, "c"): None, (3, "d"): None}


def test_asof_join_forward_and_tolerance(spark):
    left, right = _asof_fixture(spark)
    fwd = HF.asof_join(left, right, ["k"], "t", right_cols=["rv"],
                       direction="forward", right_tiebreak="rid")
    got = {(r.k, r.lv): r.rv_asof for r in fwd.collect()}
    # forward: earliest right >= left; k=1,t=10 ties -> smallest rid (1)
    assert got == {(1, "a"): 100.0, (1, "b"): None,
                   (2, "c"): 300.0, (3, "d"): None}
    tol = HF.asof_join(left, right, ["k"], "t", right_cols=["rv"],
                       tolerance_seconds=4, right_tiebreak="rid")
    got = {(r.k, r.lv): r.rv_asof for r in tol.collect()}
    # k=1,t=25 matches t=20 but gap 5s > 4s tolerance -> nulled
    assert got == {(1, "a"): 150.0, (1, "b"): None,
                   (2, "c"): None, (3, "d"): None}


def test_asof_join_single_shuffle_plan(spark):
    """The merge-join formulation: exactly one Exchange on the key, no
    range/nested-loop join in the plan."""
    left, right = _asof_fixture(spark)
    out = HF.asof_join(left, right, ["k"], "t", right_cols=["rv"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(k#") <= 2  # union sides


# -------------------------------------------------------------- range join
def test_range_join_inner_and_left(spark):
    left = spark.createDataFrame(
        [(1, 5.0, "p1"), (1, 15.0, "p2"), (2, 8.0, "p3"), (3, 1.0, "p4")],
        "k int, x double, lv string")
    right = spark.createDataFrame(
        [(1, 0.0, 10.0, "A"), (1, 4.0, 20.0, "B"), (2, 9.0, 12.0, "C")],
        "k int, s double, e double, rv string")
    out = HF.range_join(left, right, ["k"], "x", "s", "e", bucket_width=5.0)
    got = sorted((r.lv, r.rv) for r in out.collect())
    assert got == [("p1", "A"), ("p1", "B"), ("p2", "B")]
    lo = HF.range_join(left, right, ["k"], "x", "s", "e",
                       bucket_width=5.0, how="left")
    got = sorted((r.lv, r.rv) for r in lo.collect())
    assert got == [("p1", "A"), ("p1", "B"), ("p2", "B"),
                   ("p3", None), ("p4", None)]


def test_range_join_matches_naive_and_plan(spark, events):
    """Bucketed result == naive inequality join on timestamps; the plan is
    a hash equi-join, not a nested loop."""
    left = events.filter("event_type = 'purchase'") \
        .select("user_id", "ts", "event_id").limit(200)
    right = (events.filter("event_type = 'click'")
             .select("user_id", F.col("ts").alias("s"),
                     (F.col("ts") + F.expr("interval 10 minutes")).alias("e"),
                     F.col("event_id").alias("rid")))
    out = HF.range_join(left, right, ["user_id"], "ts", "s", "e",
                        bucket_width=600.0)
    naive = left.join(right, (left["user_id"] == right["user_id"]) &
                      (right["s"] <= left["ts"]) & (left["ts"] <= right["e"]))
    assert sorted((r.event_id, r.rid) for r in out.collect()) == \
        sorted((r.event_id, r.rid) for r in naive.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_asof_join_matches_model_random(spark):
    """Property check: asof_join == per-row python model on random-ish
    clustered data (keys collide, ts collide, right ties)."""
    import random

    rnd = random.Random(42)
    left = [(rnd.randint(1, 8), rnd.randint(0, 50), i)
            for i in range(300)]
    right = [(rnd.randint(1, 8), rnd.randint(0, 50), float(i), i)
             for i in range(200)]
    ldf = spark.createDataFrame(left, "k int, t int, lid int") \
        .withColumn("t", F.timestamp_seconds("t"))
    rdf = spark.createDataFrame(right, "k int, t int, rv double, rid int") \
        .withColumn("t", F.timestamp_seconds("t"))

    out = HF.asof_join(ldf, rdf, ["k"], "t", right_cols=["rv"],
                       right_tiebreak="rid")
    got = {r.lid: r.rv_asof for r in out.collect()}

    def model(k, t):
        cands = [(rt, rid, rv) for (rk, rt, rv, rid) in right
                 if rk == k and rt <= t]
        if not cands:
            return None
        rt, rid, rv = max(cands, key=lambda c: (c[0], c[1]))
        return rv

    assert len(got) == len(left)
    for (k, t, lid) in left:
        assert got[lid] == model(k, t), (k, t, lid)


# ------------------------------------------------- connected components
def _uf_components(pairs):
    """Union-find model: id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_duplicate_groups_matches_union_find_model(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(200))
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    # adversarial long chain (worst case for naive label propagation)
    pairs += [(i, i + 1) for i in range(300, 340)]
    got = {r.id: r.group_id for r in HF.duplicate_groups(
        spark.createDataFrame(pairs, ["id_a", "id_b"])).collect()}
    assert got == _uf_components(pairs)


def test_dedup_by_groups_keeps_one_per_cluster(spark, dup_corpus):
    pairs = HF.minhash_candidate_pairs(dup_corpus, "doc_id", "text")
    kept = HF.dedup_by_groups(dup_corpus, "doc_id", pairs)
    groups = HF.duplicate_groups(pairs)
    n_docs = dup_corpus.count()
    n_members = groups.count()
    n_groups = groups.select("group_id").distinct().count()
    # every non-canonical member dropped, everything else kept
    assert kept.count() == n_docs - (n_members - n_groups)
    # kept set contains every canonical representative
    missing = (groups.select(F.col("group_id").alias("doc_id")).distinct()
               .join(kept, "doc_id", "left_anti").count())
    assert missing == 0


def test_embedding_near_dup_hot_bucket_bounded(spark):
    """Adversarial skew: 10k identical-signature rows in ONE sign-LSH
    bucket. The hot-bucket guard must (a) keep the pair count at
    O(n * max_bucket_rows) instead of C(n, 2), and (b) keep the whole
    degenerate cluster CONNECTED through the pivot sub-bucket so
    duplicate_groups still folds it into one group."""
    n, cap = 10_000, 100
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0))
        .alias("embedding"))
    pairs = HF.embedding_near_dup_pairs(
        df, "id", "embedding", threshold=0.999, max_bucket_rows=cap)
    n_pairs = pairs.count()
    assert n_pairs <= 2 * n * cap, f"unbounded hot bucket: {n_pairs} pairs"
    assert n_pairs < n * (n - 1) // 2
    groups = HF.duplicate_groups(pairs)
    assert groups.select("group_id").distinct().count() == 1
    assert groups.count() == n


def test_embedding_near_dup_guard_exact_below_cap(emb):
    """Below the cap the guard must be bit-identical to the exact path;
    an aggressive cap may drop cross-salt pairs but never invent any."""
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    exact = {(r.id_a, r.id_b, round(r.cos, 9)) for r in
             HF.embedding_near_dup_pairs(
                 dup, "vec_id", "embedding", threshold=0.999,
                 max_bucket_rows=1_000_000).collect()}
    capped = {(r.id_a, r.id_b, round(r.cos, 9)) for r in
              HF.embedding_near_dup_pairs(
                  dup, "vec_id", "embedding", threshold=0.999,
                  max_bucket_rows=1).collect()}
    assert exact >= capped and exact
    # and with no oversized bucket the results are identical
    same = {(r.id_a, r.id_b, round(r.cos, 9)) for r in
            HF.embedding_near_dup_pairs(
                dup, "vec_id", "embedding", threshold=0.999).collect()}
    assert same == exact


def test_simhash_hot_block_bounded(spark):
    """10k identical texts collapse onto one simhash block: the guard
    bounds candidate pairs at O(n*cap) and keeps the cluster connected."""
    n, cap = 10_000, 100
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"))
    pairs = HF.simhash_dup_pairs(df, "id", "text", bits=16, max_distance=0,
                                 max_block_rows=cap)
    n_pairs = pairs.count()
    assert 0 < n_pairs <= 2 * n * cap
    assert n_pairs < n * (n - 1) // 2
    groups = HF.duplicate_groups(pairs)
    assert groups.select("group_id").distinct().count() == 1
    assert groups.count() == n


def test_minhash_hot_band_bounded(spark):
    """Identical-text corpus: every (band, bh) group is degenerate; the
    guard bounds the candidate join while one connected group survives."""
    n, cap = 5_000, 50
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        F.lit("the quick brown fox jumps over the lazy dog").alias("text"))
    pairs = HF.minhash_candidate_pairs(df, "id", "text", max_band_rows=cap)
    n_pairs = pairs.count()
    assert 0 < n_pairs <= 2 * n * cap
    assert n_pairs < n * (n - 1) // 2
    groups = HF.duplicate_groups(pairs)
    assert groups.select("group_id").distinct().count() == 1
    assert groups.count() == n


def test_collapse_repeats_hand_checked(spark):
    df = spark.createDataFrame(
        [(1, "a a b b b c a"),
         (2, "one  two\t two   three"),   # whitespace runs normalize
         (3, "solo"),
         (4, "no dup here at all"),
         (5, "Spam spam")],               # case-sensitive: no collapse
        ["doc_id", "text"])
    out = {r.doc_id: r for r in df.select(
        "doc_id", HF.collapse_repeats("text").alias("o"))
        .select("doc_id", "o.*").collect()}
    assert out[1].text_clean == "a b c a" and out[1].n_removed == 3
    assert out[2].text_clean == "one two three" and out[2].n_removed == 1
    assert out[3].text_clean == "solo" and out[3].n_removed == 0
    assert out[4].n_removed == 0
    assert out[5].text_clean == "Spam spam" and out[5].n_removed == 0


def test_collapse_repeats_corpus_properties(docs):
    out = (docs.select("doc_id", "text",
                       HF.collapse_repeats("text").alias("o"))
           .select("doc_id", "text", "o.*"))
    # token accounting: kept + removed == original token count
    bad = out.filter(
        HF.token_count("text_clean") + F.col("n_removed")
        != HF.token_count("text")).count()
    assert bad == 0
    # idempotent: a second pass removes nothing
    again = out.select(HF.collapse_repeats("text_clean").alias("o2"))
    assert again.filter("o2.n_removed != 0").count() == 0
    # the synthetic corpus does contain stutter ("batch batch batch")
    assert out.agg(F.sum("n_removed")).first()[0] > 0


def test_semantic_dedup_collapses_exact_copies(emb):
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    out = HF.semantic_dedup(dup, "vec_id", "embedding", n_clusters=16,
                            threshold=0.99)
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    # every +10000 copy is an exact-cosine dup of its original, always
    # co-clustered (identical vector -> identical affinities) -> dropped
    assert all(i < 10000 for i in ids)
    assert ids == {r.vec_id for r in emb.select("vec_id").collect()}


def test_semantic_dedup_trained_centroids_and_threshold(emb):
    cents = HF.kmeans_centroids(emb, "vec_id", "embedding",
                                n_centroids=8, iters=2)
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    out = HF.semantic_dedup(dup, "vec_id", "embedding", centroids=cents,
                            threshold=0.99)
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert all(i < 10000 for i in ids)
    # threshold=1.01 admits nothing as a dup -> everything survives
    keep_all = HF.semantic_dedup(dup, "vec_id", "embedding",
                                 n_clusters=8, threshold=1.01)
    assert keep_all.count() == dup.count()


def test_semantic_dedup_hot_cluster_bounded(spark):
    """10k identical vectors: one degenerate cluster; the cap keeps the
    pair join O(n*cap) while pivot connectivity still collapses the
    whole group to a single survivor."""
    n, cap = 10_000, 64
    base = [0.25] * 8
    df = spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[F.lit(x) for x in base]).alias("embedding"))
    out = HF.semantic_dedup(df, "vec_id", "embedding", n_clusters=1,
                            threshold=0.99, max_cluster_rows=cap)
    ids = [r.vec_id for r in out.collect()]
    assert ids == [0]


def test_char_entropy_hand_checked(spark):
    import math
    rows = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, ""), (4, "  \t "), (5, "aAb B")],
        ["doc_id", "text"])
    got = {r[0]: r[1] for r in rows.select(
        "doc_id", HF.char_entropy("text").alias("h")).collect()}
    assert got[1] == 0.0          # single symbol
    assert got[3] == 0.0 and got[4] == 0.0  # empty / whitespace-only
    # "ab": two equiprobable chars -> exactly 1 bit
    assert abs(got[2] - 1.0) < 1e-6
    # "aAb B" normalizes to "aab b": counts a:2 b:2 space:1, n=5
    exp = -sum(round(c / 5 * math.log2(c / 5), 6) for c in (2, 2, 1))
    assert abs(got[5] - exp) < 1e-9


def test_char_entropy_corpus_range(docs):
    out = docs.select(HF.char_entropy("text").alias("h"))
    stats = out.agg(F.min("h"), F.max("h"), F.count("h")).first()
    # natural text: strictly positive, bounded by log2(alphabet)
    assert stats[0] > 2.0 and stats[1] < 6.5
    assert stats[2] == docs.count()


def test_char_entropy_plan_is_map_only(spark):
    """The 100 TB contract: zero Exchange, scan pruned to (id, text).
    The explicit schema keeps this read's logical plan distinct from the
    module fixture's cached full-schema read — otherwise Spark's cache
    manager substitutes the 5-column InMemoryRelation and hides pruning."""
    fresh = spark.read.schema("doc_id bigint, text string").parquet(
        f"{SF_DIR}/documents.parquet")
    out = fresh.select("doc_id", HF.char_entropy("text").alias("h"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_resize_media_geometry_and_meta(docs):
    import hashlib
    m = HF.attach_media(docs.select(
        "doc_id", F.encode("text", "utf-8").alias("p")), "p",
        media_type="image", fmt="png")
    out = HF.resize_media(m, width=16, height=4).limit(10).collect()
    for r in out:
        assert len(r.media) == 16 * 4
        assert r.media_meta.n_bytes == 64
        assert r.media_meta.digest == hashlib.md5(bytes(r.media)).hexdigest()
        assert r.media_meta.media_type == "image"  # rest of meta preserved
    # deterministic 1-D nearest-neighbor model: repeat/truncate
    src = {r.doc_id: r.media for r in m.limit(10).collect()}
    for r in out:
        raw = bytes(src[r.doc_id])
        reps = -(-64 // len(raw))
        assert bytes(r.media) == (raw * reps)[:64]


def test_resize_media_requires_codec(docs):
    m = HF.attach_media(docs.select(
        "doc_id", F.encode("text", "utf-8").alias("p")), "p")
    with pytest.raises(Exception, match="NotImplementedError|no resize codec"):
        HF.resize_media(m, 8, 8, fake=False).collect()


def test_extract_features_model_and_ann_composition(docs):
    import hashlib
    m = HF.attach_media(docs.select(
        "doc_id", F.encode("text", "utf-8").alias("p")), "p")
    feats = HF.extract_features(m, dim=8)
    rows = feats.select("doc_id", "media", "features").limit(20).collect()
    for r in rows:
        base = hashlib.md5(bytes(r.media)).hexdigest()
        exp = [(int(hashlib.md5(f"{base}:{j}".encode()).hexdigest()[:4], 16)
                % 2001 - 1000) / 1000.0 for j in range(8)]
        assert len(r.features) == 8
        assert all(abs(a - b) < 1e-6 for a, b in zip(r.features, exp))
        assert all(-1.0 <= v <= 1.0 for v in r.features)
    # the bridge: extracted features feed the embedding operators directly
    corpus = feats.select("doc_id", "features")
    q = corpus.filter(F.col("doc_id") < 3)
    top = HF.brute_force_topk(corpus, q, "doc_id", "features", k=5)
    per_q = top.groupBy("query_id").count().collect()
    assert per_q and all(r["count"] == 5 for r in per_q)


def test_containment_dedup_exact_vs_bruteforce(spark):
    """Prefix-filtered containment join must equal the O(n^2) model —
    EXACT, including planted doc-inside-doc pairs that Jaccard misses."""
    import itertools
    import math
    import re

    from pyspark.sql import functions as F

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 50))
    w = F.split(F.col("text"), " ")
    half = docs.select((F.col("doc_id") + 20000).alias("doc_id"),
                       F.array_join(F.slice(w, 1, (F.size(w) / 2)
                                            .cast("int")), " ").alias("text"))
    corpus = docs.unionByName(half)
    got = {(r.id_a, r.id_b): r.containment for r in
           HF.containment_dedup_pairs(corpus, "doc_id", "text",
                                      threshold=0.9).collect()}

    def shingles(t):
        t = re.sub(r"\s+", " ", t.lower()).strip()
        return (set(t[i:i + 5] for i in range(len(t) - 4))
                if len(t) >= 5 else set())

    S = {r.doc_id: shingles(r.text) for r in corpus.collect()}
    exp = {}
    for a, b in itertools.combinations(sorted(S), 2):
        if not S[a] or not S[b]:
            continue
        mn = min(len(S[a]), len(S[b]))
        i = len(S[a] & S[b])
        if i >= math.ceil(0.9 * mn - 1e-9):
            exp[(a, b)] = round(i / mn, 6)
    assert got == exp
    # the planted halves ARE found, and Jaccard at the same bar misses them
    planted = [(a, b) for (a, b) in got if b - a == 20000]
    assert len(planted) >= 40
    jac = {(r.id_a, r.id_b) for r in HF.jaccard_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.9).collect()}
    assert sum(1 for p in planted if p in jac) < len(planted) / 2


def test_containment_prefix_df_guard(spark):
    """max_prefix_df bounds the candidate fan-out: a generous cap is
    bit-identical to the exact join; the guarded result is always a
    subset; and only smaller-side docs whose ENTIRE prefix is hot can
    lose pairs."""
    from pyspark.sql import functions as F

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 40))
    w = F.split(F.col("text"), " ")
    half = docs.select((F.col("doc_id") + 20000).alias("doc_id"),
                       F.array_join(F.slice(w, 1, (F.size(w) / 2)
                                            .cast("int")), " ").alias("text"))
    corpus = docs.unionByName(half)
    exact = {(r.id_a, r.id_b) for r in HF.containment_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.9).collect()}
    loose = {(r.id_a, r.id_b) for r in HF.containment_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.9,
        max_prefix_df=10**6).collect()}
    assert loose == exact  # cap above every df: identical
    tight = {(r.id_a, r.id_b) for r in HF.containment_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.9,
        max_prefix_df=2).collect()}
    assert tight <= exact  # guarded path only ever drops pairs


def test_lsh_plan_properties():
    """The banding planner: library defaults reproduced, waterline
    tracks the threshold, recall at the threshold stays high, and the
    S-curve math itself is sane."""
    from hoodie_spark.functions.dedup import lsh_plan

    assert lsh_plan(0.8, 16) == (4, 4)  # the library default, derived
    for t in (0.5, 0.7, 0.8, 0.9):
        for n in (16, 32, 64):
            b, r = lsh_plan(t, n)
            assert b * r == n and b >= 1 and r >= 1
            # the planner's hard contract: majority recall at the bar
            p_at_t = 1.0 - (1.0 - t ** r) ** b
            assert p_at_t >= 0.5, (t, n, b, r, p_at_t)
    # monotonicity: higher threshold -> steeper curve (more rows per band)
    assert lsh_plan(0.9, 32)[1] >= lsh_plan(0.5, 32)[1]
    import pytest
    with pytest.raises(ValueError):
        lsh_plan(1.5, 16)


def test_duplicate_groups_hub_star_graph(spark):
    """A hub component (one boilerplate doc paired with everything — the
    100 TB skew case) resolves correctly; per-node minima are
    groupBy-folded (map-side partials), never a window over the hub's
    whole neighborhood."""
    from hoodie_spark.functions.components import duplicate_groups
    n = 50_000
    pairs = spark.range(1, n).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b"))
    got = duplicate_groups(pairs)
    assert got.count() == n
    assert got.filter(F.col("group_id") != 0).count() == 0


@pytest.mark.parametrize("threshold", [0.0, 1.5])
@pytest.mark.parametrize("op", ["jaccard_dedup_pairs", "edit_dedup_pairs",
                                "containment_dedup_pairs"])
def test_pair_operators_reject_out_of_range_threshold(spark, op, threshold):
    """A similarity threshold outside (0, 1] is an error, not an empty (or,
    for containment's exact copies, a non-empty) pair set."""
    df = spark.createDataFrame([(1, "the same text"), (2, "the same text")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        getattr(HF, op)(df, "doc_id", "text", threshold=threshold)


@pytest.mark.parametrize("op,call", [
    ("edit_dedup_pairs", "levenshtein("),
    ("jaccard_dedup_pairs", "array_intersect("),
    ("containment_dedup_pairs", "array_intersect(")])
def test_verifier_runs_its_expensive_call_once(spark, op, call):
    """Each verified pair pays the verifier's expensive call once: the
    keep filter must not be copied into the join condition next to the
    projected score."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "a different sentence entirely about spark plans")],
        "doc_id long, text string")
    out = getattr(HF, op)(df, "doc_id", "text", threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count(call) == 1
    assert {(r[0], r[1]) for r in out.collect()} == {(1, 2)}


# ------------------------------------- LSH pair operators vs brute force
# A pure-Python model of the whole LSH pipeline (the same md5 minhash,
# band hashes, size gates and verifiers), so the expected pair set is
# exact, not a recall bound. The corpus mixes byte-identical copies,
# near copies on both sides of each threshold, integer-boundary size
# ratios, texts shorter than the n-gram, empty and NULL texts.
_LSH_BASE = [
    "the quick brown fox jumps over the lazy dog while the cat sleeps",
    "spark plans joins by shuffling both sides on the key then merging",
    "an unrelated sentence about growing tomatoes and peppers in summer",
]
_LSH_CORPUS = [
    (1, _LSH_BASE[0]), (2, _LSH_BASE[0]), (3, _LSH_BASE[0]),
    (4, _LSH_BASE[0] + " ok"),
    (5, _LSH_BASE[0].replace("lazy", "sleepy").replace("cat", "owl")),
    (6, _LSH_BASE[0][:52]),
    (7, _LSH_BASE[1]), (8, _LSH_BASE[1] + "!"),
    (9, _LSH_BASE[1].upper()), (10, _LSH_BASE[1].replace(" ", "  ")),
    (11, _LSH_BASE[2]), (12, _LSH_BASE[2] + " and beans"),
    # shingle counts 4 vs 5 and 8 vs 10: Jaccard exactly 0.8
    (13, "abcdefgh"), (14, "abcdefghi"),
    (15, "abcdefghijkl"), (16, "abcdefghijklmn"),
    # lengths 9 vs 10 with one edit: similarity exactly 0.9
    (17, "0123456789"), (18, "012345678"),
    (19, "klmnopqrst"), (20, "klmnopqrsX"),
    # shorter than the n-gram, empty, NULL — no shingles, no candidates
    (21, "abc"), (22, "abc"), (23, "ab"), (24, ""), (25, ""), (26, None),
]


def _lsh_model_candidates(corpus, num_hashes=16, bands=4, n=5):
    import itertools
    import re

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def shingles(t):
        t = re.sub(r"\s+", " ", t.lower()).strip(" ")
        return ({t[i:i + n] for i in range(len(t) - n + 1)}
                if len(t) >= n else set())

    sh = {i: shingles(t) for i, t in corpus if t is not None}
    rpb = num_hashes // bands
    bandset = {}
    for i, s in sh.items():
        if not s:
            continue  # no shingles: no signature, never a candidate
        sig = [min(md5(f"h{h}:{x}") for x in s) for h in range(num_hashes)]
        bandset[i] = {(b, md5("".join(sig[b * rpb:(b + 1) * rpb])))
                      for b in range(bands)}
    cands = {(a, b) for a, b in itertools.combinations(sorted(bandset), 2)
             if bandset[a] & bandset[b]}
    return sh, cands


@pytest.mark.parametrize("threshold", [0.8, 0.9])
def test_jaccard_dedup_pairs_match_bruteforce(spark, threshold):
    sh, cands = _lsh_model_candidates(_LSH_CORPUS)
    expect, rejected = {}, 0
    for a, b in cands:
        na, nb = len(sh[a]), len(sh[b])
        if min(na, nb) / max(na, nb) < threshold - 1e-9:
            rejected += 1
            continue
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            expect[(a, b)] = j
        else:
            rejected += 1
    # the corpus exercises both verdicts and the exact 0.8 boundary
    assert rejected and expect
    if threshold == 0.8:
        assert any(j == 0.8 for j in expect.values())
    df = spark.createDataFrame(_LSH_CORPUS, "doc_id long, text string")
    rows = HF.jaccard_dedup_pairs(df, "doc_id", "text",
                                  threshold=threshold).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert len(got) == len(rows)  # one row per pair
    assert got == expect


@pytest.mark.parametrize("threshold", [0.9, 0.7])
def test_edit_dedup_pairs_match_bruteforce(spark, threshold):
    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    texts = dict(_LSH_CORPUS)
    _, cands = _lsh_model_candidates(_LSH_CORPUS)
    expect, rejected = {}, 0
    for a, b in cands:
        ta, tb = texts[a], texts[b]
        lmax = max(len(ta), len(tb))
        if 1.0 - abs(len(ta) - len(tb)) / lmax < threshold - 1e-9:
            rejected += 1
            continue
        s = 1.0 - lev(ta, tb) / lmax
        if s >= threshold:
            expect[(a, b)] = s
        else:
            rejected += 1
    assert rejected and expect
    if threshold == 0.9:
        assert any(s == 0.9 for s in expect.values())
    df = spark.createDataFrame(_LSH_CORPUS, "doc_id long, text string")
    rows = HF.edit_dedup_pairs(df, "doc_id", "text",
                               threshold=threshold).collect()
    got = {(r.id_a, r.id_b): r.similarity for r in rows}
    assert len(got) == len(rows)
    assert got == expect


# ---------------------------------------------------- sketch monoids
def test_sketch_distinct_survives_in_plan(spark):
    """The pre-hash distinct is duplicate-agnostic-min bait for
    RemoveRedundantAggregates; the repartition barrier must keep it.
    Without it the 64-way md5 partial agg runs over every occurrence
    again (measured 7.3 s vs 0.2 s at sf0.1)."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y")], "g string, v string")
    sk = HF.group_distinct_sketch(df, "g", "v", num_hashes=4)
    opt = sk._jdf.queryExecution().optimizedPlan().toString()
    # two logical Aggregates: the distinct and the per-group mins
    assert opt.count("Aggregate [") >= 2, opt
    assert "RoundRobinPartitioning" in \
        sk._jdf.queryExecution().executedPlan().toString()


def test_sketch_duplication_invariant(spark):
    """min over a multiset == min over its support: the estimate must be
    bit-identical however many times each (group, value) repeats."""
    rows = [("s1", f"tok{i % 5}") for i in range(50)] + \
           [("s2", f"tok{i}") for i in range(7)]
    df = spark.createDataFrame(rows, "g string, v string")
    once = sorted(map(tuple, HF.group_distinct_sketch(
        df.distinct(), "g", "v", num_hashes=8).collect()))
    many = sorted(map(tuple, HF.group_distinct_sketch(
        df.unionAll(df), "g", "v", num_hashes=8).collect()))
    assert once == many


def test_group_sketches_duplication_invariant(spark):
    df = spark.createDataFrame(
        [("s1", "the quick brown fox jumps"),
         ("s2", "the quick brown fox jumps"),
         ("s2", "a different body of text")], "g string, t string")
    a = sorted(map(tuple, HF.group_sketches(
        df, "g", "t", num_hashes=4).collect()))
    b = sorted(map(tuple, HF.group_sketches(
        df.unionAll(df), "g", "t", num_hashes=4).collect()))
    assert a == b


# ----------------------------- exact pairs, seen and keep-best dedup
def test_exact_text_pairs_singletons_emit_nothing(spark):
    rows = [(1, "dup body"), (2, "dup body"), (3, "dup body"),
            (4, "unique one"), (5, "unique two"), (6, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(map(tuple,
                     exact_text_pairs(df, "id", "text").collect()))
    assert got == [(1, 2), (1, 3)]


def test_seen_dedup_with_singletons_and_nulls(spark):
    rows = [(1, "same"), (2, "same"), (3, "only"), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    kept = sorted(r["id"] for r in
                  HF.seen_dedup(df, "id", "text").collect())
    # NULL texts are never duplicates; singleton survives; later copy drops
    assert kept == [1, 3, 4, 5]


def test_keep_best_column_surface_unchanged(spark):
    """The tied-frame rewrite must not leak internal columns."""
    rows = [(1, "same text here", 1.0), (2, "same text here", 2.0),
            (3, "unrelated body", 5.0)]
    out = HF.dedup_keep_best(
        spark.createDataFrame(rows, "id long, text string, score double"),
        "id", "text", "score")
    assert out.columns == ["id", "text", "score", "n_dups"]
    assert {r["id"]: r["n_dups"] for r in out.collect()} == {2: 2, 3: 1}


# ---------------------------------------- duplicate_groups star fold
def test_duplicate_groups_chain_multiround(spark):
    """A 40-node path graph forces multiple large/small-star rounds over
    the checkpointed edge set; every node must land in component 0."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    got = duplicate_groups(pairs).collect()
    assert len(got) == 41
    assert {r["group_id"] for r in got} == {0}


def _edges(spark, rows):
    return spark.createDataFrame(rows, "hi long, lo long")


def test_star_forest_detects_forest(spark):
    # two stars: {1,2,3 -> 0} and {7 -> 5}; roots never appear as hi
    assert _is_star_forest(_edges(spark, [(1, 0), (2, 0), (3, 0), (7, 5)]))


def test_star_forest_empty_is_forest(spark):
    assert _is_star_forest(_edges(spark, []))


def test_star_forest_rejects_path(spark):
    # 2 -> 1 -> 0: node 1 is both member and root
    assert not _is_star_forest(_edges(spark, [(2, 1), (1, 0)]))


def test_star_forest_rejects_multi_root(spark):
    # member 5 points at two roots
    assert not _is_star_forest(_edges(spark, [(5, 0), (5, 1)]))


def test_duplicate_groups_zero_rounds_on_star_input(spark):
    """exact_text_pairs-style input is already a min-rooted star forest:
    the fold must stop immediately with the input as the answer."""
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (9, 11)], "id_a long, id_b long")
    got = {r["id"]: r["group_id"] for r in duplicate_groups(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 9: 9, 11: 9}


def test_duplicate_groups_two_components_merge(spark):
    """A graph whose first star round does NOT yet yield the forest."""
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 12), (12, 14)],
        "id_a long, id_b long")
    got = {r["id"]: r["group_id"] for r in duplicate_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 12: 10, 14: 10}


def test_duplicate_groups_reliable_checkpoint(spark, tmp_table_path):
    """With a checkpoint dir configured the fold must use reliable
    checkpoints (cluster fault tolerance) and produce the same answer."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(tmp_table_path)
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long")
        got = {r["id"]: r["group_id"]
               for r in duplicate_groups(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1}
    finally:
        # reset: checkpointDir is a plain var on the Scala SparkContext
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


# ---------------------------- containment at the distinct-text grain
def _brute_containment(texts, threshold, ngram=5):
    """O(n^2) reference: containment over distinct char-ngram sets."""
    import itertools

    shs = {i: {t[k:k + ngram] for k in range(len(t) - ngram + 1)}
           for i, t in texts.items()}
    out = {}
    for a, b in itertools.combinations(sorted(shs), 2):
        sa, sb = shs[a], shs[b]
        if not sa or not sb:
            continue
        mn = min(len(sa), len(sb))
        inter = len(sa & sb)
        if inter >= math.ceil(threshold * mn - 1e-9):
            out[(a, b)] = round(inter / mn, 6)
    return out


def test_containment_dup_heavy_matches_bruteforce(spark):
    """Exact copies collapse to one verify row per distinct text; the
    expanded id-pair set must still equal the O(n^2) model, intra-copy
    pairs at exactly 1.0."""
    base = {
        0: "the quick brown fox jumps over the lazy dog again and again",
        1: "the quick brown fox jumps over the lazy dog again and again!!",
        2: "a completely different document about spark query planning",
    }
    texts = {}
    for rep in range(25):           # 25 exact copies of each distinct text
        for i, t in base.items():
            texts[100 * rep + i] = t
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.containment
           for r in HF.containment_dedup_pairs(
               df, "doc_id", "text", threshold=0.9).collect()}
    assert got == _brute_containment(texts, 0.9)
    # every intra-copy pair is present and exactly 1.0
    copies0 = sorted(k for k in texts if k % 100 == 0)
    for i in range(len(copies0) - 1):
        assert got[(copies0[i], copies0[i + 1])] == 1.0


def test_containment_plan_runs_verify_at_hash_grain(spark):
    """The optimized plan must shingle and verify above the distinct-text
    aggregate (grouping on the md5 content hash), not per document."""
    df = spark.createDataFrame(
        [(i, f"document number {i % 3} with shared boilerplate text")
         for i in range(30)], "doc_id long, text string")
    out = HF.containment_dedup_pairs(df, "doc_id", "text", threshold=0.9)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__ch" in plan and "array_intersect" in plan
    # document frequency keeps doc weights: the census sums __n
    assert "sum(__n" in plan


def test_containment_df_guard_unchanged_on_dup_heavy(spark):
    """max_prefix_df decides on SUMMED copy counts (document frequency),
    so a shingle common only through exact copies still trips the cap."""
    # one distinct boilerplate text copied 40x + one unique doc embedded
    rows = [(i, "boilerplate header shared by every copy of this doc")
            for i in range(40)]
    rows.append((99, "boilerplate header shared by ever"))  # contained prefix
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = {(r.id_a, r.id_b) for r in HF.containment_dedup_pairs(
        df, "doc_id", "text", threshold=0.9, max_prefix_df=100).collect()}
    tight = {(r.id_a, r.id_b) for r in HF.containment_dedup_pairs(
        df, "doc_id", "text", threshold=0.9, max_prefix_df=5).collect()}
    # the 40-copy group's shingles have df=40 > 5: doc 99's every prefix
    # shingle is capped out, so its cross pairs disappear under the tight
    # cap while the intra-copy pairs (no prefix probe needed) remain
    assert {(a, b) for a, b in loose if a != 99 and b != 99} <= loose
    assert all(99 not in p for p in tight)
    assert {(a, b) for (a, b) in tight} == \
        {(a, b) for (a, b) in loose if 99 not in (a, b)}


def test_lsh_plan_low_threshold_falls_back_to_flattest():
    assert lsh_plan(0.03, 16) == (16, 1)  # below every curve's waterline
    assert lsh_plan(0.8, 16) == (4, 4)  # the documented default unchanged
    b, r = lsh_plan(0.5, 16)
    assert b * r == 16
    assert 1.0 - (1.0 - 0.5 ** r) ** b >= 0.5  # floor holds when satisfiable


def _docs(spark, n=200):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < n))


def test_keep_best_exact_cluster_keeps_highest_score(spark):
    rows = [(1, "identical content here", 10.0),
            (2, "identical content here", 30.0),
            (3, "identical content here", 30.0),   # score tie → min id
            (4, "a different document entirely", 5.0)]
    out = HF.dedup_keep_best(
        spark.createDataFrame(rows, "id long, text string, score double"),
        "id", "text", "score")
    got = {r["id"]: r["n_dups"] for r in out.collect()}
    assert got == {2: 3, 4: 1}


def test_keep_best_near_cluster_and_null_scores(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(1, base * 4, None),          # NULL score sorts below all
            (2, base * 4 + "tail", 1.0),  # near-dup of 1, wins
            (3, "completely unrelated text about other things", None)]
    out = HF.dedup_keep_best(
        spark.createDataFrame(rows, "id long, text string, score double"),
        "id", "text", "score", threshold=0.5)
    got = {r["id"]: r["n_dups"] for r in out.collect()}
    assert got == {2: 2, 3: 1}
    # all-NULL cluster: min id wins, cluster never vanishes
    rows2 = [(7, "identical text body", None),
             (8, "identical text body", None)]
    out2 = HF.dedup_keep_best(
        spark.createDataFrame(rows2, "id long, text string, score double"),
        "id", "text", "score")
    assert {r["id"]: r["n_dups"] for r in out2.collect()} == {7: 2}


def test_keep_best_vs_seen_dedup_same_clusters(spark):
    """With score = -id the best member IS the smallest id, so the
    winner set must equal arrival-order dedup over the same relation
    (exact edges; sub-shingle docs have no near edges)."""
    # texts under 5 chars carry no shingle signature → exact edges only
    rows = [(i, f"d{i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string") \
        .withColumn("score", -F.col("id").cast("double"))
    out = HF.dedup_keep_best(df, "id", "text", "score")
    assert sorted(r["id"] for r in out.collect()) == list(range(7))
    assert {r["n_dups"] for r in out.collect()} == {6, 5}  # 40 = 7*5+5


def test_keep_best_no_window_in_plan(spark):
    docs = _docs(spark).withColumn("score",
                                   F.length("text").cast("double"))
    out = HF.dedup_keep_best(docs, "doc_id", "text", "score")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # winners ⊆ input, n_dups ≥ 1, total cluster mass = corpus size
    agg = out.agg(F.sum("n_dups").alias("m"),
                  F.min("n_dups").alias("lo")).collect()[0]
    assert agg["m"] == docs.count() and agg["lo"] >= 1


def test_keep_best_partitioning_invariant(spark):
    docs = _docs(spark).withColumn("score",
                                   F.length("text").cast("double"))
    a = HF.dedup_keep_best(docs.repartition(1), "doc_id", "text", "score")
    b = HF.dedup_keep_best(docs.repartition(13, "doc_id"),
                           "doc_id", "text", "score")
    assert sorted(map(tuple, a.select("doc_id", "n_dups").collect())) == \
        sorted(map(tuple, b.select("doc_id", "n_dups").collect()))


def test_token_budget_prefix_semantics(spark):
    rows = [(1, 10, 100), (2, 20, 200), (3, 30, 300), (4, 40, 400)]
    df = spark.createDataFrame(rows, "id long, rank int, w long")
    out = HF.token_budget_select(df, "w", 650, ["rank", "id"])
    got = {r["id"]: r["cum_tokens"] for r in out.collect()}
    # 100, 300, 600 fit; 1000 > 650 cut
    assert got == {1: 100, 2: 300, 3: 600}
    # exact-budget boundary row is KEPT (≤, not <)
    out2 = HF.token_budget_select(df, "w", 600, ["rank", "id"])
    assert {r["id"] for r in out2.collect()} == {1, 2, 3}


def test_token_budget_null_and_zero_weights(spark):
    rows = [(1, 1, None), (2, 2, 0), (3, 3, 5), (4, 4, 10)]
    df = spark.createDataFrame(rows, "id long, rank int, w int")
    out = HF.token_budget_select(df, "w", 5, ["rank", "id"])
    # NULL/zero-weight rows cost nothing and are kept inside the prefix
    assert {r["id"]: r["cum_tokens"] for r in out.collect()} == \
        {1: 0, 2: 0, 3: 5}


def test_token_budget_empty_and_overbudget(spark):
    df = spark.createDataFrame([], "id long, rank int, w int")
    assert HF.token_budget_select(df, "w", 10, ["rank", "id"]).count() == 0
    one = spark.createDataFrame([(1, 1, 99)], "id long, rank int, w int")
    assert HF.token_budget_select(one, "w", 10,
                                  ["rank", "id"]).count() == 0


def test_excess_ppl_select_zero_when_ref_is_corpus(spark):
    docs = _docs(spark, n=80)
    out = HF.excess_perplexity_select(docs, "doc_id", "text", docs, k=80)
    rows = out.collect()
    assert len(rows) == 80
    for r in rows:
        assert r["excess"] == 0.0 and r["nll_self"] == r["nll_ref"]


def test_excess_ppl_select_prefers_reference_style(spark):
    """Docs written in the reference's style but rare in the corpus are
    exactly what excess loss surfaces: hard under the corpus self-LM,
    easy under the reference LM."""
    a = [(i, "the common corpus style sentence repeats the same words "
             "over and over in the corpus")
         for i in range(50)]
    b = [(100, "zephyr quills jolt vexed gnome wizards bright"),
         (101, "zephyr quills jolt vexed gnome wizards bright")]
    corpus = spark.createDataFrame(a + b, "doc_id long, text string")
    ref = spark.createDataFrame(
        [(0, "zephyr quills jolt vexed gnome wizards bright")] * 3,
        "doc_id long, text string")
    top = HF.excess_perplexity_select(corpus, "doc_id", "text", ref, k=2)
    assert sorted(r["doc_id"] for r in top.collect()) == [100, 101]


def test_excess_ppl_select_deterministic_and_layout_invariant(spark):
    docs = _docs(spark, n=200)
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    a = [(r["doc_id"], r["excess"]) for r in
         HF.excess_perplexity_select(docs, "doc_id", "text", ref, k=30)
         .collect()]
    b = [(r["doc_id"], r["excess"]) for r in
         HF.excess_perplexity_select(docs.repartition(13), "doc_id",
                                     "text", ref.repartition(3), k=30)
         .collect()]
    assert a == b and len(a) == 30
    # excess is exactly the round-6 difference of the returned NLLs
    full = HF.excess_perplexity_select(docs, "doc_id", "text", ref, k=30)
    for r in full.collect():
        assert r["excess"] == round(r["nll_self"] - r["nll_ref"], 6)


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
