"""Similarity search over an embedding column (``array<float>``).

Every top-k operator is one pipeline: **candidates → scorer → rank tail**.

* Candidate generation is where the operators differ:

  - :func:`brute_force_topk` pairs every corpus vector with every query
    (broadcast, map-side): exact, the recall baseline;
  - :func:`lsh_bucket_topk` pairs only vectors that share a sign-LSH
    (random-hyperplane) bucket;
  - :func:`ivf_topk` and :func:`ivf_topk_from_index` pair each query with
    the inverted lists of its ``n_probe`` nearest centroids; persisted as
    a ``partitionBy(centroid)`` parquet layout (:func:`write_ivf_index`),
    a probe reads only ``n_probe / n_centroids`` of the data;
  - the PQ and int8 operators pair the queries with quantized codes.

* One cosine scorer, :func:`_cos` over :func:`_prep`'s ``(id, v, n)``
  columns, scores raw vectors; ADC (:func:`_pq_score_topk`) and the int8
  scorer (:func:`_int8_topk`) are its quantized counterparts.
* One rank tail, :func:`_top_k`, ranks every operator's candidates and
  every nearest-centroid choice: score descending, then the smaller id.

One probe planner (:func:`_probe_plan`) picks the lists for every IVF
operator, and one writer (:func:`_write_lists`) writes every inverted-list
index. Centroids default to the smallest-id corpus rows
(:func:`_default_centroids`): no training step, reproducible by the SQL
oracle.

All math is double-precision Column expressions (``zip_with`` +
left-to-right ``aggregate`` fold — reproducible, engine-portable).
Hyperplanes are derived from md5, so the DuckDB oracle replicates them.
"""

from __future__ import annotations

import math
import pandas as pd  # annotation resolution for the pandas UDF signature
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from ..frames import local_frame

__all__ = [
    "dot", "l2_norm", "cosine", "normalize", "random_projection",
    "sign_lsh_key",
    "brute_force_topk", "lsh_bucket_topk", "ivf_topk",
    "kmeans_centroids", "cluster_balanced_sample",
    "write_ivf_index", "ivf_topk_from_index", "append_ivf_index",
    "delete_from_ivf_index", "compact_ivf_index",
    "pq_codebooks", "pq_codebooks_trained", "pq_encode", "pq_reconstruct",
    "pq_topk", "pq_topk_rerank", "write_pq_index", "write_ivfpq_index",
    "ivfpq_topk_from_index", "append_ivfpq_index", "knn_classify",
    "quantize_embeddings", "int8_topk", "write_int8_index",
    "int8_topk_from_index",
    "hard_negative_mine", "hard_negative_mine_ivf",
]


def dot(a, b) -> Column:
    """Left-to-right fold of elementwise products (deterministic order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a) -> Column:
    """Unit-L2 copy of the vector (null-safe: zero vectors stay zero)."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)


def random_projection(vec, out_dim: int, dim: int) -> list[Column]:
    """Johnson–Lindenstrauss-style dimension reduction: ``out_dim`` dot
    products against the same deterministic ±1 hyperplanes the sign-LSH
    uses (md5-derived, so re-runs and the SQL oracle agree bit-for-bit).
    Returns one Column per output component — map-only, codegen'd; at
    100 TB this collapses a wide embedding scan to ``out_dim`` doubles
    before any shuffle."""
    mat = _plane_matrix(out_dim, dim)
    cast = F.transform(vec, lambda x: x.cast("double"))
    return [dot(cast, F.array(*[F.lit(w) for w in row])).alias(f"p{p}")
            for p, row in enumerate(mat)]


def _plane_matrix(planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: +1 when the first hex digit of
    ``md5('p<p>:<i>')`` is 0–7. Identical to the DuckDB oracle derivation —
    computed once in Python instead of per (plane × dim × row) in Spark."""
    import hashlib

    return [
        [1.0 if int(hashlib.md5(f"p{p}:{i}".encode()).hexdigest()[0], 16) < 8
         else -1.0 for i in range(dim)]
        for p in range(planes)
    ]


def sign_lsh_key(vec, planes: int, dim: int | None = None) -> Column:
    """Random-hyperplane signature: ``planes``-char '0'/'1' string.

    Plane p's component for dimension i is +1 when the first hex digit of
    ``md5('p<p>:<i>')`` is in 0–7, else −1 — deterministic, shared with the
    DuckDB oracle, no stored model.

    When ``dim`` is known, the ±1 matrix is precomputed driver-side and
    embedded as array literals — the per-row cost is ``planes`` dot products
    (no md5 at all). Without ``dim`` the plane components are derived inline
    per element (planes × dim interpreted md5s per row — avoid on bulk runs).
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    if dim is not None:
        mat = _plane_matrix(planes, dim)
        bits = []
        for p in range(planes):
            proj = dot(vec, F.array(*[F.lit(s) for s in mat[p]]))
            bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
        # zip_with null-pads on length mismatch, which would silently zero
        # every bit and collapse mismatched vectors into one bucket — fail
        # loudly instead. Null vectors (missing embeddings) map to a null
        # key, never the error branch: size(NULL) is null, so without the
        # isNull arm the when-condition itself would be null and the row
        # would fall into raise_error with an unreadable null-concat message.
        return (F.when(vec.isNull(), F.lit(None).cast("string"))
                .when(F.size(vec) == dim, F.concat(*bits))
                .otherwise(F.raise_error(F.concat(
                    F.lit(f"sign_lsh_key: vector length != dim={dim} (got "),
                    F.size(vec).cast("string"), F.lit(")")))))

    def bit(p):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x * F.when(
                    F.md5(F.concat(F.lit("p"), p.cast("string"), F.lit(":"), i.cast("string")))
                     .substr(1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
                    F.lit(1.0)).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return F.when(proj > 0, F.lit("1")).otherwise(F.lit("0"))
    return F.concat_ws("", F.transform(F.sequence(F.lit(0), F.lit(planes - 1)), bit))


def _prep(df: DataFrame, id_col: str, vec_col: str, prefix: str,
          label_col: str | None = None) -> DataFrame:
    """One side of a pipeline: ``(<p>_id, <p>_v, <p>_n[, <p>_lab])``, the
    vector cast to doubles and its L2 norm computed once per row."""
    v = F.col(vec_col).cast("array<double>")
    cols = [F.col(id_col).alias(f"{prefix}_id"), v.alias(f"{prefix}_v"),
            l2_norm(v).alias(f"{prefix}_n")]
    if label_col is not None:
        cols.append(F.col(label_col).alias(f"{prefix}_lab"))
    return df.select(*cols)


def _cos(a: str, b: str) -> Column:
    """The family's one cosine: ``dot(v_a, v_b) / (n_a * n_b)`` over two
    sides' :func:`_prep` columns. ``a`` and ``b`` name a side's columns
    with ``{}`` standing for ``v`` and ``n``: ``"c_{}"`` reads ``c_v`` and
    ``c_n``."""
    return dot(a.format("v"), b.format("v")) / (
        F.col(a.format("n")) * F.col(b.format("n")))


def _scored(pairs: DataFrame, *carry) -> DataFrame:
    """The scorer: corpus-side ``c_*`` x query-side ``q_*`` candidate pairs
    become ``(query_id, neighbor_id, *carry, cos)``."""
    return pairs.select(F.col("q_id").alias("query_id"),
                        F.col("c_id").alias("neighbor_id"), *carry,
                        _cos("c_{}", "q_{}").alias("cos"))


def _check(name: str, value: int, least: int = 1) -> None:
    """Counts are checked at entry: below ``least`` an operator would
    silently return no rows, or fewer than ``k`` per query."""
    if value < least:
        raise ValueError(f"{name} must be at least {least}, got {value}")


def _top_k(df: DataFrame, k: int, part: str = "query_id",
           score: str = "cos", tie: str = "neighbor_id",
           rank: str = "rank") -> DataFrame:
    """The family's one rank tail: within each ``part``, number the rows
    by ``score`` descending, then the smaller ``tie``, into ``rank`` and
    keep ranks 1..``k``. Spark plans it as a WindowGroupLimit, so each
    partition forwards at most ``k`` rows per key before the exchange."""
    _check("k", k)
    w = Window.partitionBy(part).orderBy(F.desc(score), F.asc(tie))
    return df.withColumn(rank, F.row_number().over(w)) \
        .filter(F.col(rank) <= k)


def _default_centroids(corpus: DataFrame, id_col: str, n: int) -> DataFrame:
    """The ``n`` corpus rows with the smallest ids: the family's
    no-training centroid set, exactly reproducible by the SQL oracle."""
    return corpus.orderBy(F.col(id_col)).limit(n)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    Self-matches are excluded. Broadcast(queries) ⨯ corpus is a map-side
    nested loop; the shuffle into the per-query top-k window carries
    |corpus|·|queries| rows of ~24 bytes. Exact — use as recall baseline;
    for large corpora prefer :func:`ivf_topk`.
    """
    pairs = (_prep(corpus, id_col, vec_col, "c")
             .crossJoin(F.broadcast(_prep(queries, id_col, vec_col, "q")))
             .filter(F.col("c_id") != F.col("q_id")))
    return _top_k(_scored(pairs), k).select("query_id", "neighbor_id",
                                            "rank", "cos")


def _mined(scored: DataFrame, k: int, min_cos: float | None,
           max_cos: float | None) -> DataFrame:
    """The hard-negative miners' tail: the cosine band, then the rank."""
    if min_cos is not None:
        scored = scored.filter(F.col("cos") >= min_cos)
    if max_cos is not None:
        scored = scored.filter(F.col("cos") <= max_cos)
    return _top_k(scored, k).select("query_id", "neighbor_id",
                                    "neighbor_label", "rank", "cos")


def hard_negative_mine(corpus: DataFrame, queries: DataFrame, id_col: str,
                       vec_col: str, label_col: str, k: int = 10,
                       min_cos: float | None = None,
                       max_cos: float | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-cosine-similar corpus vectors whose
    ``label_col`` DIFFERS from the query's — the negatives a contrastive
    loss learns the most from. Returns ``(query_id, neighbor_id,
    neighbor_label, rank, cos)``, rank 1 = hardest.

    ``min_cos`` keeps only semi-hard negatives above a similarity floor
    (easy negatives contribute ~zero gradient); ``max_cos`` drops
    near-identical cross-label pairs (above ~0.95 they are usually
    mislabeled positives — the standard false-negative guard). Rows with
    a NULL label are excluded from BOTH sides: an unknown class can't be
    asserted to be a negative.

    Scale: same contract as :func:`brute_force_topk` — broadcast the
    (bounded) query batch, map-side nested loop over the corpus, per-query
    top-k via WindowGroupLimit (per-partition heaps; no global sort). For
    full-corpus mining at 100 TB, run per query-shard or use
    :func:`hard_negative_mine_ivf`, which probes inverted lists instead
    of scanning the corpus per query."""
    def side(df, p):
        return _prep(df.filter(F.col(label_col).isNotNull()), id_col,
                     vec_col, p, label_col)

    pairs = (side(corpus, "c").crossJoin(F.broadcast(side(queries, "q")))
             .filter(F.col("c_lab") != F.col("q_lab")))
    return _mined(_scored(pairs, F.col("c_lab").alias("neighbor_label")),
                  k, min_cos, max_cos)


def hard_negative_mine_ivf(corpus: DataFrame, queries: DataFrame,
                           id_col: str, vec_col: str, label_col: str,
                           k: int = 10, oversample: int = 4,
                           n_centroids: int = 16, n_probe: int = 4,
                           min_cos: float | None = None,
                           max_cos: float | None = None,
                           centroids: DataFrame | None = None) -> DataFrame:
    """Approximate hard-negative mining at corpus scale: retrieve
    ``k * oversample`` IVF candidates per query (inverted-list probes —
    corpus work is one bucketed map pass, never a per-query scan), then
    label-filter and re-rank to ``k``. Oversampling absorbs the
    same-label candidates the filter removes; raise it if queries sit in
    single-label-dominated clusters. Same output schema and tie-break as
    :func:`hard_negative_mine` (the exact baseline for recall checks)."""
    _check("oversample", oversample)
    lab = lambda df, name, out: df.select(  # noqa: E731
        F.col(id_col).alias(name), F.col(label_col).alias(out))
    cand = ivf_topk(corpus, queries, id_col, vec_col, k=k * oversample,
                    n_centroids=n_centroids, n_probe=n_probe,
                    centroids=centroids)
    scored = (
        cand.join(lab(corpus, "neighbor_id", "neighbor_label"),
                  "neighbor_id")
        .join(F.broadcast(lab(queries, "query_id", "__qlab")), "query_id")
        .filter(F.col("neighbor_label").isNotNull()
                & F.col("__qlab").isNotNull()
                & (F.col("neighbor_label") != F.col("__qlab"))))
    return _mined(scored, k, min_cos, max_cos)


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, k: int = 10, planes: int = 6,
                    dim: int | None = None) -> DataFrame:
    """Approximate top-k scoring only same-sign-LSH-bucket pairs."""
    def side(df, p):
        return _prep(df, id_col, vec_col, p).withColumn(
            "bucket", sign_lsh_key(f"{p}_v", planes, dim))

    pairs = (side(corpus, "c").join(F.broadcast(side(queries, "q")), "bucket")
             .filter(F.col("c_id") != F.col("q_id")))
    return _top_k(_scored(pairs), k).select("query_id", "neighbor_id",
                                            "rank", "cos")


def _assign_centroids(c: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per corpus vector (cosine argmax, ties → smaller
    centroid id): map-side broadcast loop, one pass over the corpus."""
    aff = (c.crossJoin(F.broadcast(cent))
           .select("c_id", "c_v", "c_n", "k_id",
                   _cos("c_{}", "k_{}").alias("aff")))
    return (_top_k(aff, 1, part="c_id", score="aff", tie="k_id")
            .select("c_id", "c_v", "c_n", F.col("k_id").alias("centroid")))


def kmeans_centroids(corpus: DataFrame, id_col: str, vec_col: str,
                     n_centroids: int = 16, iters: int = 4,
                     sample_fraction: float | None = None,
                     seed: int = 42) -> DataFrame:
    """Sampled Lloyd's k-means codebook for :func:`ivf_topk`.

    The scale shape: each iteration is ONE map pass over the (optionally
    sampled) corpus — broadcast the k×dim centroid matrix, argmax-assign,
    then a (centroid, dimension)-keyed partial-sum shuffle of k×dim rows;
    only the k×dim codebook is ever collected. At 100 TB you train on a
    ~0.1% sample (set ``sample_fraction``) and the cost is independent of
    corpus size. Deterministic: seeded sample, smallest-id init, and empty
    clusters keep their previous centroid.

    Returns a DataFrame with columns ``(id_col, vec_col)`` (ids 0..k-1),
    ready to pass as ``ivf_topk(..., centroids=...)``.
    """
    spark = corpus.sparkSession
    c = _prep(corpus, id_col, vec_col, "c").filter(F.col("c_n") > 0)
    if sample_fraction is not None:
        c = c.sample(False, sample_fraction, seed=seed)
    c = c.persist()
    try:
        init = [r[0] for r in _default_centroids(c, "c_id", n_centroids)
                .select("c_v").collect()]
        cents: list[list[float]] = [list(v) for v in init]
        for _ in range(max(0, iters)):
            cent_df = local_frame(
                spark, [(i, v) for i, v in enumerate(cents)],
                "k_id int, k_v array<double>").withColumn("k_n", l2_norm("k_v"))
            stats = (_assign_centroids(c, F.broadcast(cent_df))
                     .select("centroid", F.posexplode("c_v").alias("pos", "x"))
                     .groupBy("centroid", "pos")
                     .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                     .collect())
            new = {int(r["centroid"]): dict() for r in stats}
            for r in stats:
                new[int(r["centroid"])][int(r["pos"])] = r["s"] / r["n"]
            cents = [
                [by_pos[p] for p in sorted(by_pos)] if (by_pos := new.get(i))
                else cents[i]  # empty cluster: keep previous centroid
                for i in range(len(cents))
            ]
    finally:
        c.unpersist()
    return local_frame(
        spark, [(i, v) for i, v in enumerate(cents)],
        f"{id_col} int, __v array<double>").withColumnRenamed("__v", vec_col)


def cluster_balanced_sample(df: DataFrame, id_col: str, vec_col: str,
                            per_cluster: int, n_clusters: int = 16,
                            centroids: DataFrame | None = None) -> DataFrame:
    """Cluster-balanced curation sampling (the SemDeDup / DataComp
    cluster-and-prune recipe's mixing step): assign every embedding to its
    nearest centroid (cosine, deterministic ties), then keep at most
    ``per_cluster`` rows per cluster by md5-hash order of the id —
    flattening over-dense regions of embedding space the way
    :func:`~hoodie_spark.functions.pipeline.temperature_mix` flattens
    over-dense *sources*. Returns ``(id_col, centroid)``; join back to the
    corpus for the full rows.

    Scale shape: one broadcast-centroid map pass over the corpus (the
    k x dim matrix is the only broadcast state), then a single shuffle
    keyed by the cluster whose per-cluster rank cutoff Spark's
    WindowGroupLimit pushes map-side — each partition forwards at most
    ``per_cluster`` rows per cluster. Centroids default to the
    smallest-id corpus rows (the :func:`ivf_topk` convention, exactly
    reproducible by the SQL oracle); pass :func:`kmeans_centroids` output
    for trained clusters.
    """
    c = _prep(df, id_col, vec_col, "c")
    if centroids is None:
        centroids = _default_centroids(df, id_col, n_clusters)
    cent = _prep(centroids, id_col, vec_col, "k")
    assigned = _assign_centroids(c, cent).select(
        F.col("c_id").alias(id_col), "centroid")
    w = Window.partitionBy("centroid").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (assigned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= per_cluster)
            .select(id_col, "centroid"))


def _write_lists(corpus: DataFrame, centroids: DataFrame, id_col: str,
                vec_col: str, path: str, mode: str, books=None) -> None:
    """The one inverted-list writer: assign each vector to its nearest
    centroid and write the lists as a ``partitionBy(centroid)`` parquet
    layout in save ``mode``. Rows hold the raw vector and its norm
    (``__norm``), or with ``books`` the PQ codes and the reconstruction
    norm (``__rnorm``)."""
    a = _assign_centroids(_prep(corpus, id_col, vec_col, "c"),
                          _prep(centroids, id_col, vec_col, "k"))
    if books is None:
        rows = a.select(F.col("c_id").alias(id_col),
                        F.col("c_v").alias(vec_col),
                        F.col("c_n").alias("__norm"), "centroid")
    else:
        rows = _pq_encoded(a, F.col("c_id").alias(id_col), F.col("c_v"),
                           books, "centroid")
    rows.write.partitionBy("centroid").mode(mode).parquet(path)


def write_ivf_index(corpus: DataFrame, centroids: DataFrame, id_col: str,
                    vec_col: str, path: str) -> None:
    """Persist the inverted lists as a ``partitionBy(centroid)`` parquet
    layout — the 100 TB serving shape: a probe then reads only
    ``n_probe / n_centroids`` of the data via partition pruning."""
    _write_lists(corpus, centroids, id_col, vec_col, path, "overwrite")


def _dot(a, b) -> float:
    """:func:`dot` on the driver: the same left-to-right fold."""
    d = 0.0
    for x, y in zip(a, b):
        d = d + x * y
    return d


def _vec_rows(df: DataFrame, id_col: str, vec_col: str) -> list[tuple]:
    """ONE collect of a broadcast-small vector set (queries, centroids):
    ``[(id, vec, norm)]``, the norm equal to :func:`_prep`'s bit for bit:
    the same fold, then ``math.sqrt``, correctly rounded like Spark's
    ``sqrt`` (``** 0.5`` is not, and was 1 ULP off on ~0.1% of vectors).
    A null vector, or one with a null element, has a null norm."""
    return [(i, v, None if v is None or None in v else math.sqrt(_dot(v, v)))
            for i, v in df.select(F.col(id_col), F.col(vec_col).cast(
                "array<double>")).collect()]


def _probe_key(q, c) -> tuple:
    """Sort key of Spark's ``desc(cos), asc(centroid id)`` for a query and
    a centroid row: NaN first, nulls last (a null side, or lengths that
    ``zip_with`` pads with nulls). A zero norm raises, as Spark's ANSI
    division does."""
    (_, qv, qn), (kid, kv, kn) = q, c
    if qn is None or kn is None or len(qv) != len(kv):
        return (2, 0.0, kid)
    cos = _dot(qv, kv) / (qn * kn)
    return (0, 0.0, kid) if cos != cos else (1, -cos, kid)


def _probe_plan(queries: DataFrame, centroids: DataFrame, id_col: str,
                vec_col: str, n_probe: int) -> tuple:
    """The family's one probe planner: each query probes the lists of its
    ``n_probe`` nearest centroids, cosine descending, then the smaller
    centroid id. Returns ``(query rows, centroids, probes, lists)``: the
    :func:`_vec_rows` of the queries, every centroid row as ``(k_id, k_v,
    k_n)``, one ``(q_id, q_v, q_n, centroid)`` row per probe, and the
    sorted probed centroid ids.

    The plan is DRIVER-side Python: the centroid table is bounded (it was
    collected to train or pick it in the first place) and the query set is
    broadcast-small, so nearest-centroid choice is a k×Q loop over one
    collect of each. A Spark crossJoin+window costs jobs of its own to
    plan a scan that then reads ``n_probe / n_centroids`` of the data. The
    first row of a duplicated centroid id wins: a duplicate would probe
    (and score) its list twice."""
    _check("n_probe", n_probe)
    crows = _vec_rows(centroids, id_col, vec_col)
    seen: set = set()
    first = [r for r in crows if r[0] not in seen and not seen.add(r[0])]
    qrows = _vec_rows(queries, id_col, vec_col)
    probes = [q + (c[0],) for q in qrows for c in sorted(
        first, key=lambda c: _probe_key(q, c))[:n_probe]]
    kt = centroids.schema[id_col].dataType
    vec = lambda p: [StructField(f"{p}_v", ArrayType(DoubleType())),  # noqa: E731
                     StructField(f"{p}_n", DoubleType())]
    spark = queries.sparkSession
    return (qrows,
            local_frame(spark, crows,
                        StructType([StructField("k_id", kt)] + vec("k"))),
            local_frame(spark, probes, StructType(
                [StructField("q_id", queries.schema[id_col].dataType)]
                + vec("q") + [StructField("centroid", kt)])),
            sorted({p[3] for p in probes}))


def ivf_topk_from_index(spark, index_path: str, centroids: DataFrame,
                        queries: DataFrame, id_col: str, vec_col: str,
                        k: int = 10, n_probe: int = 4) -> DataFrame:
    """Probe a persisted :func:`write_ivf_index` layout. The
    ``centroid IN (...)`` filter prunes at the partition-directory level,
    so only the probed inverted lists are scanned."""
    _, _, probes, lists = _probe_plan(queries, centroids, id_col, vec_col,
                                      n_probe)
    index = (spark.read.parquet(index_path)
             .filter(F.col("centroid").isin(lists))
             .select(F.col(id_col).alias("c_id"),
                     F.col(vec_col).alias("c_v"),
                     F.col("__norm").alias("c_n"), "centroid"))
    return _ivf_scored(index, probes, k)


def _ivf_scored(lists: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Score the probed lists: a pair reached through two lists counts
    once."""
    pairs = (lists.join(F.broadcast(probes), "centroid")
             .filter(F.col("c_id") != F.col("q_id")))
    return _top_k(_scored(pairs).distinct(), k).select(
        "query_id", "neighbor_id", "rank", "cos")


def append_ivf_index(corpus_delta: DataFrame, centroids: DataFrame,
                     id_col: str, vec_col: str, path: str) -> None:
    """Incrementally add vectors to a persisted :func:`write_ivf_index`
    layout — the daily-embedding-upsert path: assign the DELTA against
    the index's frozen centroid set and append into the
    ``partitionBy(centroid)`` directories. Work is delta-sized (one map
    pass over the new vectors + one append write); the existing inverted
    lists are never read or rewritten, so a 100 TB index absorbs a
    per-batch trickle at per-batch cost. The probe path is unchanged —
    an appended index is content-identical to a full rebuild over the
    union corpus (same centroids), which is exactly what the oracle and
    tests pin. Small files accumulate per list; fold them periodically
    with :func:`compact_ivf_index`.
    """
    _write_lists(corpus_delta, centroids, id_col, vec_col, path, "append")


def delete_from_ivf_index(spark, index_path: str, ids: DataFrame,
                          id_col: str) -> int:
    """Remove vectors from a persisted IVF index by id. Delta-sized: a
    broadcast semi-join over the index finds the TOUCHED inverted lists
    (bounded by |ids|), and a dynamic-partition overwrite rewrites only
    those lists with the survivors; every untouched ``centroid=`` dir is
    left byte-identical. Lists emptied entirely are removed via the
    Hadoop FileSystem API (works on posix and object stores alike —
    dynamic overwrite cannot replace a partition with zero rows).
    Returns the number of rows deleted. Not transactional: run it from
    the table-service seat (like compaction), and rebuild the touched
    lists from the source table if a run dies mid-write.
    """
    idx = spark.read.parquet(index_path)
    dels = F.broadcast(ids.select(F.col(id_col).alias("__del")).distinct())
    hit = (idx.join(dels, F.col(id_col) == F.col("__del"))
           .groupBy("centroid").agg(F.count(F.lit(1)).alias("__n"))
           .collect())
    if not hit:
        return 0
    touched = [r["centroid"] for r in hit]
    n_deleted = sum(r["__n"] for r in hit)
    kept = (idx.filter(F.col("centroid").isin(touched))
            .join(dels, F.col(id_col) == F.col("__del"), "left_anti"))
    survivors = {r["centroid"] for r in
                 kept.select("centroid").distinct().collect()}
    if survivors:
        (kept.filter(F.col("centroid").isin(list(survivors)))
         .repartition(F.col("centroid"))
         .write.partitionBy("centroid")
         .option("partitionOverwriteMode", "dynamic")
         .mode("overwrite").parquet(index_path))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for c in set(touched) - survivors:
        p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/centroid={c}")
        p.getFileSystem(conf).delete(p, True)
    return int(n_deleted)


def compact_ivf_index(spark, index_path: str,
                      centroids: list | None = None) -> None:
    """Fold the small files :func:`append_ivf_index` accumulates into ONE
    file per inverted list. ``repartition(centroid)`` lands each list in
    exactly one task, so the ``partitionBy`` writer emits one file per
    ``centroid=`` dir; dynamic-partition overwrite replaces only the
    lists actually written. Pass ``centroids`` to compact just the hot
    lists (partition-pruned read — the rest of the index is not
    scanned). Same non-transactional caveat as
    :func:`delete_from_ivf_index`.
    """
    idx = spark.read.parquet(index_path)
    if centroids is not None:
        idx = idx.filter(F.col("centroid").isin(list(centroids)))
    (idx.repartition(F.col("centroid"))
     .write.partitionBy("centroid")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(index_path))


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 10, n_centroids: int = 16, n_probe: int = 4,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Centroids default to the ``n_centroids`` corpus vectors with the
    smallest ids (deterministic; callers with a trained codebook pass
    ``centroids``). Assignment broadcasts the centroid set, so corpus-side
    work is one map pass; :func:`_probe_plan` picks each query's lists on
    the driver, and the probe join hits only ``n_probe`` of
    ``n_centroids`` inverted lists.
    """
    if centroids is None:
        centroids = _default_centroids(corpus, id_col, n_centroids)
    _, cent, probes, _ = _probe_plan(queries, centroids, id_col, vec_col,
                                     n_probe)
    return _ivf_scored(_assign_centroids(_prep(corpus, id_col, vec_col, "c"),
                                         cent), probes, k)


def knn_classify(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, label_col: str, k: int = 10) -> DataFrame:
    """k-NN majority-vote classification over the embedding column:
    predict each query's label from its ``k`` exact-cosine nearest
    neighbors (vote-count ties break toward the smaller label). Returns
    ``(query_id, label, votes)``.

    Scale: one pass over the corpus. The scorer carries each neighbor's
    label through with its cosine (as :func:`hard_negative_mine` does), so
    no label join reads the corpus again; the vote is a Q×k-row
    aggregation. Swap the exact scan for :func:`ivfpq_topk_from_index` at
    serving scale."""
    pairs = (_prep(corpus, id_col, vec_col, "c", label_col)
             .crossJoin(F.broadcast(_prep(queries, id_col, vec_col, "q")))
             .filter(F.col("c_id") != F.col("q_id")))
    votes = (_top_k(_scored(pairs, F.col("c_lab").alias("label")), k)
             .groupBy("query_id", "label")
             .agg(F.count(F.lit(1)).alias("votes")))
    return _top_k(votes, 1, score="votes", tie="label").select(
        "query_id", "label", "votes")


# --------------------------------------------------------------------- PQ
def pq_codebooks(corpus: DataFrame, id_col: str, vec_col: str,
                 m: int = 8, k: int = 16) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: subspace ``j``'s codes
    are the ``j``-th sub-vectors of the first ``k`` corpus rows (same
    no-training reproducible convention as ivf_topk's centroid init —
    swap in per-subspace kmeans_centroids sub-vectors for trained books).
    Returns ``books[j][c] = list[ds floats]`` with ``ds = dim // m``.
    Driver data is k rows — bounded."""
    rows = (_default_centroids(corpus, id_col, k)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    if len(rows) < k:
        # pq_codebooks_trained indexes books[j][c] for c in range(k) — a
        # short book would IndexError later with no hint of the cause
        raise ValueError(
            f"pq_codebooks: corpus has only {len(rows)} rows but k={k} "
            "codes were requested; lower k or grow the corpus")
    dim = len(rows[0]["v"])
    if dim % m:
        # a silent dim//m would drop the trailing dims from every code —
        # scores would quietly ignore part of the vector
        raise ValueError(f"embedding dim {dim} not divisible by m={m} "
                         "subspaces")
    ds = dim // m
    return [[[float(x) for x in r["v"][j * ds:(j + 1) * ds]] for r in rows]
            for j in range(m)]


def pq_encode(vec, books: list[list[list[float]]]) -> Column:
    """``array<int>`` of ``m`` code ids: per subspace, the L2-nearest code
    (first index wins exact ties — matches the oracle's (dist, code)
    ordering).

    Implemented as an Arrow-batched pandas UDF over numpy: encoding is
    m×k 8-float L2 distances per row, and a Column-expression version is
    either a ~3000-node tree (seconds of plan compilation) or interpreted
    HOF folds (~200 ops/row with per-fold allocation) — both measured
    slower than the vectorized batch kernel by >4x at sf0.1. Encoding
    parity with the SQL oracle is exact: squared diffs accumulate in
    EXPLICIT left-to-right index order (numpy's pairwise summation is
    deliberately avoided), so distances are bit-identical to the fold the
    oracle computes, and ``argmin`` takes the first index on exact ties —
    the oracle's (dist, code) ordering. Null vectors and vectors of the
    wrong length encode to null (the dirty-corpus behavior of the Column
    expression this replaced), never a task failure."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bks = [np.asarray(b, dtype=np.float64) for b in books]  # m × (k, ds)
    m, ds = len(bks), bks[0].shape[1]
    dim = m * ds

    @pandas_udf("array<int>")
    def _enc(s: pd.Series) -> pd.Series:
        out = [None] * len(s)
        if not len(s):
            return pd.Series(out, dtype=object)
        vals = [None if x is None else np.asarray(x, dtype=np.float64)
                for x in s]
        # non-finite elements (null/NaN inside a right-length vector)
        # must also yield null codes — NaN distances would make argmin
        # pick an arbitrary code and poison the index silently
        good = [i for i, x in enumerate(vals)
                if x is not None and x.shape == (dim,)
                and np.isfinite(x).all()]
        if not good:
            return pd.Series(out, dtype=object)
        v = np.stack([vals[i] for i in good])
        codes = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            sub = v[:, j * ds:(j + 1) * ds]               # (n, ds)
            sq = (sub[:, None, :] - bks[j][None, :, :]) ** 2  # (n, k, ds)
            d = sq[:, :, 0]
            for i in range(1, ds):  # sequential adds == the oracle's fold
                d = d + sq[:, :, i]
            codes[:, j] = d.argmin(axis=1)  # first index wins exact ties
        for row, i in enumerate(good):
            out[i] = codes[row]
        return pd.Series(out, dtype=object)

    vec = F.col(vec) if isinstance(vec, str) else vec
    return _enc(vec.cast("array<double>"))


def pq_reconstruct(codes, books: list[list[list[float]]]) -> Column:
    """Concatenation of each subspace's chosen code — the quantized vector
    the asymmetric-distance scoring dots the raw query against."""
    m = len(books)
    parts = []
    for j in range(m):
        book = F.array(*[F.array(*[F.lit(x) for x in c]) for c in books[j]])
        parts.append(F.element_at(book, F.element_at(codes, j + 1) + 1))
    return F.flatten(F.array(*parts))


def write_pq_index(corpus: DataFrame, books, id_col: str, vec_col: str,
                   path: str) -> None:
    """Persist (id, codes, __rnorm) — the 100 TB shape: with m=8 subspaces
    the stored index is 8 small ints per vector (~32 B vs 256 B for a
    float64 x64 vector; 4 bits/code with k=16 after parquet
    dictionary+RLE), so the whole searchable index fits in a fraction of
    the corpus footprint and scoring scans never touch the raw embedding
    column. The reconstruction norm is query-independent, so it is paid
    ONCE here at encode time and read back by the ADC scorer."""
    _pq_encoded(corpus, F.col(id_col), F.col(vec_col), books) \
        .write.mode("overwrite").parquet(path)


def _pq_encoded(df: DataFrame, id_col: Column, vec: Column, books,
                *keep) -> DataFrame:
    """A PQ index row, ``(id, codes, *keep, __rnorm)``: the codes and the
    reconstruction norm, both paid once at encode time."""
    return (df.select(id_col, pq_encode(vec, books).alias("codes"), *keep)
            .withColumn("__rnorm", _pq_code_norm(books)))


def _pq_code_norm(books) -> Column:
    """``sqrt(Σ_j ‖book[j][code_j]‖²)`` — the reconstruction's L2 norm
    computed from the CODES alone. The per-code squared norms are folded
    driver-side into one flat m×k literal array, so the per-row cost is
    ``m`` element_at lookups + adds: query-independent, evaluated ONCE per
    corpus row (never per pair), and baked into the persisted index by
    :func:`write_pq_index` / :func:`write_ivfpq_index` at encode time."""
    sq = [F.lit(_dot(code, code)) for book in books for code in book]
    return F.sqrt(_lut_sum(F.array(*sq), len(books[0])))


def _lut_sum(lut: Column, k: int) -> Column:
    """``Σ_j lut[j·k + code_j]`` over the row's ``codes``: ``m``
    element_at adds into a flat j-major table of ``k`` entries per
    subspace."""
    return F.aggregate(
        F.transform(F.col("codes"),
                    lambda cd, j: F.element_at(lut, j * k + cd + 1)),
        F.lit(0.0), lambda acc, x: acc + x)


def _pq_luts(queries: DataFrame, id_col: str, vec_col: str, books,
             qrows=None):
    """ADC lookup tables: precompute ``lut[j][c] = dot(q_sub_j,
    book[j][c])`` in Python — m×k doubles per query. Returns a small
    DataFrame ``(q_id, q_n, lut: array<double> flattened j-major)`` ready
    to broadcast; scoring then needs only ``m`` element_at adds per pair
    instead of reconstructing the m·ds-float corpus vector per
    (query, corpus) pair in interpreted HOFs."""
    m, k, ds = len(books), len(books[0]), len(books[0][0])
    if qrows is None:
        qrows = _vec_rows(queries, id_col, vec_col)
    out = [(i, n, [_dot(v[j * ds:(j + 1) * ds], books[j][c])
                   for j in range(m) for c in range(k)])
           for i, v, n in qrows]
    id_type = queries.schema[id_col].dataType  # keep the caller's id dtype
    return local_frame(queries.sparkSession, out, StructType([
        StructField("q_id", id_type), StructField("q_n", DoubleType()),
        StructField("lut", ArrayType(DoubleType()))]))


def _pq_score_topk(codes_df: DataFrame, lut_df: DataFrame, books, k: int,
                   extra_join=None) -> DataFrame:
    """The ADC scorer: broadcast the per-query LUTs against the
    (code, corpus-norm) rows; cos = Σ_j lut[j][code_j] / (q_n · c_rn) —
    ``m`` element_at adds per pair, every per-row quantity precomputed."""
    dotp = _lut_sum(F.col("lut"), len(books[0]))
    join_cond = F.col("c_id") != F.col("q_id")
    if extra_join is not None:
        join_cond = extra_join & join_cond
    scored = (codes_df.join(F.broadcast(lut_df), join_cond)
              .select(F.col("q_id").alias("query_id"),
                      F.col("c_id").alias("neighbor_id"),
                      (dotp / (F.col("q_n") * F.col("c_rn"))).alias("cos")))
    if extra_join is not None:
        scored = scored.distinct()  # pair may surface via multiple lists
    return _top_k(scored, k).select("query_id", "neighbor_id", "rank")


def _pq_rows(codes_df: DataFrame, id_col: str, books, *keep) -> DataFrame:
    """``(c_id, codes, *keep, c_rn)`` of a PQ index. An index written
    without the encode-time ``__rnorm`` column gets the norm computed from
    its codes."""
    cols = [F.col(id_col).alias("c_id"), "codes", *keep]
    if "__rnorm" in codes_df.columns:
        return codes_df.select(*cols, F.col("__rnorm").alias("c_rn"))
    return codes_df.select(*cols).withColumn("c_rn", _pq_code_norm(books))


def pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
            vec_col: str, k: int = 10, m: int = 8, n_codes: int = 16,
            books=None, codes_df: DataFrame | None = None) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric distance:
    corpus vectors are replaced by their PQ reconstruction, queries stay
    raw, score = cos(query, reconstruction). Pass ``codes_df`` (from
    :func:`write_pq_index`) to score a PRE-ENCODED index — then the scan
    reads only the code + norm columns and the raw corpus is never touched.

    Scale (classic ADC): encoding is one map pass (or amortized into the
    index); the reconstruction norm is query-independent and computed once
    per corpus row (or read straight from the index); per query an m×k
    lookup table of sub-dot-products is precomputed driver-side, so each
    (query, vector) pair costs m element_at adds — never a reconstruction.
    The shuffle after scoring carries only (query, id, score) and
    WindowGroupLimit keeps per-partition top-k before the exchange.
    Compose with the IVF partitionBy(centroid) layout for IVF-PQ:
    partition pruning picks the lists, codes make each list 8-32x smaller.

    Returns (query_id, neighbor_id, rank) — rank 1..k per query.
    """
    if books is None:
        books = pq_codebooks(corpus, id_col, vec_col, m=m, k=n_codes)
    if codes_df is None:
        codes_df = _pq_encoded(corpus, F.col(id_col), F.col(vec_col), books)
    return _pq_score_topk(_pq_rows(codes_df, id_col, books),
                          _pq_luts(queries, id_col, vec_col, books),
                          books, k)


def pq_topk_rerank(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 10, shortlist: int = 30,
                   m: int = 8, n_codes: int = 16, books=None,
                   codes_df: DataFrame | None = None) -> DataFrame:
    """Two-stage ANN serving: ADC shortlist, then EXACT cosine re-rank.

    Stage 1 runs :func:`pq_topk` for the top-``shortlist`` candidates per
    query — with a pre-encoded index (``codes_df`` from
    :func:`write_pq_index`) the scan reads only codes + norm and never
    touches the raw corpus. Stage 2 fetches raw vectors for just the
    ``|queries| x shortlist`` candidate ids (an equi-join the corpus side
    can hash-prune / dynamic-partition-prune at scale), broadcasts the raw
    queries, and re-scores each candidate with the exact cosine.

    Scale: stage-2 cost is independent of corpus size — the standard
    recall-repair pattern for PQ's quantization error. ``shortlist/k`` is
    the recall knob; with ``shortlist >= |corpus| - 1`` the result equals
    :func:`brute_force_topk` exactly.

    Returns (query_id, neighbor_id, rank, cos) — rank 1..k per query by
    exact cosine, ties toward the smaller neighbor id.
    """
    _check("shortlist", shortlist, k)
    short = pq_topk(corpus, queries, id_col, vec_col, k=shortlist, m=m,
                    n_codes=n_codes, books=books, codes_df=codes_df)
    return _exact_rerank(short, corpus, queries, id_col, vec_col, k)


def _exact_rerank(short: DataFrame, corpus: DataFrame, queries: DataFrame,
                  id_col: str, vec_col: str, k: int) -> DataFrame:
    """Shared stage-2 of two-stage serving: exact-cosine re-rank of a
    (query_id, neighbor_id) shortlist against the raw corpus vectors.
    The |queries| x shortlist candidate ids broadcast into the corpus
    scan — a map-side hash join (plus dynamic pruning on a partitioned
    corpus), never a corpus shuffle — so the stage costs O(|shortlist|)
    regardless of corpus size."""
    cand = short.select(F.col("query_id").alias("q_id"),
                        F.col("neighbor_id").alias("c_id"))
    pairs = (_prep(corpus, id_col, vec_col, "c")
             .join(F.broadcast(cand), "c_id")
             .join(F.broadcast(_prep(queries, id_col, vec_col, "q")), "q_id"))
    return _top_k(_scored(pairs), k).select("query_id", "neighbor_id",
                                            "rank", "cos")


def pq_codebooks_trained(corpus: DataFrame, id_col: str, vec_col: str,
                         m: int = 8, k: int = 16, iters: int = 3,
                         sample_fraction: float | None = None,
                         seed: int = 42) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means PQ codebooks (the trained counterpart
    of :func:`pq_codebooks`, same return shape). Each iteration is ONE map
    pass: encode with the current books (m argmin folds in-row), explode
    to (subspace, code, pos, x) partial sums, collect the m*k*ds codebook
    cells — driver data is bounded by the codebook, not the corpus. Train
    on a sample at scale (``sample_fraction``), exactly like
    kmeans_centroids. Deterministic: seeded sample + first-k init, empty
    cells keep their previous code."""
    c = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        c = c.sample(False, sample_fraction, seed=seed)
    c = c.persist()
    try:
        books = pq_codebooks(corpus, id_col, vec_col, m=m, k=k)
        ds = len(books[0][0])
        for _ in range(max(0, iters)):
            codes = pq_encode(F.col("v"), books)
            exp = c.select(F.posexplode(
                F.transform(codes, lambda cd, j: F.struct(
                    cd.alias("code"),
                    F.slice(F.col("v"), j * ds + 1, ds).alias("sub"))))
                .alias("j", "s"))
            stats = (exp.select("j", F.col("s.code").alias("code"),
                                F.posexplode(F.col("s.sub"))
                                .alias("pos", "x"))
                     .groupBy("j", "code", "pos")
                     .agg(F.sum("x").alias("sx"),
                          F.count(F.lit(1)).alias("n"))
                     .collect())
            cells: dict = {}
            for r in stats:
                cells.setdefault((int(r["j"]), int(r["code"])), {})[
                    int(r["pos"])] = r["sx"] / r["n"]
            books = [[
                [by_pos[p] for p in sorted(by_pos)]
                if (by_pos := cells.get((j, cd))) else books[j][cd]
                for cd in range(k)] for j in range(m)]
    finally:
        c.unpersist()
    return books


def write_ivfpq_index(corpus: DataFrame, centroids: DataFrame, books,
                      id_col: str, vec_col: str, path: str) -> None:
    """IVF-PQ index: the :func:`write_ivf_index` partitionBy(centroid)
    layout, but each row stores the PQ CODES instead of the raw vector —
    the production 100 TB ANN shape: partition pruning picks n_probe
    inverted lists, and each list is ~8 small ints per vector (32-64x
    smaller scan than raw float64x64), so a probe's IO is
    (n_probe/n_centroids) x (1/32) of the corpus."""
    _write_lists(corpus, centroids, id_col, vec_col, path, "overwrite",
                 books)


def append_ivfpq_index(corpus_delta: DataFrame, centroids: DataFrame,
                       books, id_col: str, vec_col: str,
                       path: str) -> None:
    """Incrementally add vectors to a persisted :func:`write_ivfpq_index`
    layout: the delta is assigned against the index's frozen centroid
    set and PQ-encoded with its frozen codebooks, then appended into the
    ``partitionBy(centroid)`` code lists. Same contract as
    :func:`append_ivf_index` — delta-sized work, existing lists never
    read, the result content-identical to a full rebuild over the union
    corpus (pinned by test). Codebooks and centroids must be the ones
    the index was built with: quantization drift is a REBUILD, not an
    append. Deletes and small-file folding reuse
    :func:`delete_from_ivf_index` / :func:`compact_ivf_index` — both
    operate on the shared (id, centroid) layout and carry the code
    columns through untouched.
    """
    _write_lists(corpus_delta, centroids, id_col, vec_col, path, "append",
                 books)


def ivfpq_topk_from_index(spark, index_path: str, centroids: DataFrame,
                          books, queries: DataFrame, id_col: str,
                          vec_col: str, k: int = 10, n_probe: int = 4,
                          rerank_corpus: DataFrame | None = None,
                          shortlist: int = 30) -> DataFrame:
    """Probe a persisted :func:`write_ivfpq_index` layout: centroid
    partition pruning + ADC scoring on the code column (per-query LUTs +
    the encode-time ``__rnorm`` — no reconstruction anywhere).

    Pass ``rerank_corpus`` (the raw-vector table) for the full production
    serving combo: the pruned ADC scan produces a top-``shortlist``
    candidate set per query, then :func:`_exact_rerank` repairs
    quantization error with exact cosines fetched for just those ids —
    the index scan stays codes-only, the raw table is touched only at
    |queries| x shortlist point lookups.

    The probe plan is :func:`_probe_plan`'s, driver-side; the only
    cluster work is the pruned index scan + ADC scoring.
    Returns (query_id, neighbor_id, rank)."""
    if rerank_corpus is not None:
        _check("shortlist", shortlist, k)
    qrows, _, probes, lists = _probe_plan(queries, centroids, id_col,
                                          vec_col, n_probe)
    lut_df = (_pq_luts(queries, id_col, vec_col, books, qrows=qrows)
              .join(probes.select("q_id", F.col("centroid")
                                  .alias("p_centroid")), "q_id"))
    index = _pq_rows(spark.read.parquet(index_path)
                     .filter(F.col("centroid").isin(lists)),
                     id_col, books, "centroid")
    adc = _pq_score_topk(
        index, lut_df, books,
        shortlist if rerank_corpus is not None else k,
        extra_join=F.col("centroid") == F.col("p_centroid"))
    if rerank_corpus is None:
        return adc
    return _exact_rerank(adc, rerank_corpus, queries, id_col, vec_col,
                         k).select("query_id", "neighbor_id", "rank")


# ----------------------------------------------------- int8 quantization
def quantize_embeddings(df: DataFrame, id_col: str,
                        vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization for ANN serving:
    ``scale = max(|x|)/127`` and ``code = floor(x/scale + 0.5)`` — the
    standard 4× memory/bandwidth reduction (float32 → int8) that keeps
    inner-product ordering to within quantization error. Returns
    (id_col, ``scale`` double, ``codes`` array<int>).

    ``floor(x/scale + 0.5)`` instead of ``round()`` because engines
    disagree on rounding mode at exact halves (HALF_UP vs banker's);
    pure floor arithmetic reproduces bit-for-bit anywhere, which is what
    lets an external SQL engine verify the codes. Zero vectors quantize
    to all-zero codes with scale 0.

    Scale shape: map-only — one HOF max and one HOF transform per row,
    no shuffle; the amax/scale are bound ONCE as columns (never inside
    the per-element lambda — interpreted HOFs re-evaluate captured
    expressions per element)."""
    staged = df.select(
        F.col(id_col), F.col(vec_col).alias("__v"),
        F.array_max(F.transform(
            F.col(vec_col),
            lambda x: F.abs(x.cast("double")))).alias("__amax"))
    staged = staged.withColumn(
        "__div", F.when(F.col("__amax") == 0.0, F.lit(1.0))
                  .otherwise(F.col("__amax") / F.lit(127.0)))
    return staged.select(
        id_col,
        F.when(F.col("__amax") == 0.0, F.lit(0.0))
         .otherwise(F.col("__amax") / F.lit(127.0)).alias("scale"),
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x.cast("double") / F.col("__div")
                              + F.lit(0.5)).cast("int")).alias("codes"))


def _int8_topk(cq: DataFrame, queries: DataFrame, id_col: str,
               vec_col: str, k: int) -> DataFrame:
    """The one int8 scorer: ``cq`` is a quantized corpus ``(id, scale,
    codes)``; the queries quantize here and broadcast. The integer dot is
    exact, and the two scale multiplies run in a fixed order."""
    cq = cq.withColumnsRenamed(
        {id_col: "c_id", "scale": "c_s", "codes": "c_c"})
    qq = quantize_embeddings(queries, id_col, vec_col).withColumnsRenamed(
        {id_col: "q_id", "scale": "q_s", "codes": "q_c"})
    idot = F.aggregate(
        F.zip_with("c_c", "q_c", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (cq.crossJoin(F.broadcast(qq))
              .filter(F.col("c_id") != F.col("q_id"))
              .select(F.col("q_id").alias("query_id"),
                      F.col("c_id").alias("neighbor_id"),
                      (idot.cast("double") * F.col("c_s") * F.col("q_s"))
                      .alias("score")))
    return _top_k(scored, k, score="score").select(
        "query_id", "neighbor_id", "rank")


def int8_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
              vec_col: str, k: int = 10) -> DataFrame:
    """Inner-product top-k over int8-quantized vectors (MIPS serving):
    ``score = int_dot(codes_c, codes_q) * scale_c * scale_q`` ≈ the
    dequantized inner product. The corpus-side scan reads 64 int8 codes
    + one scale per vector instead of 64 float32s; the dot is an integer
    zip-fold (exact — no float accumulation inside the loop), so the
    only doubles are the two scale multiplies, in a fixed order any IEEE
    engine reproduces. Returns (query_id, neighbor_id, rank).

    Same plan as :func:`brute_force_topk` (broadcast queries, per-query
    top-k window); compose with :func:`quantize_embeddings` persisted as
    the serving index for the 4× bandwidth win at scale."""
    return _int8_topk(quantize_embeddings(corpus, id_col, vec_col),
                      queries, id_col, vec_col, k)


def write_int8_index(corpus: DataFrame, id_col: str, vec_col: str,
                     path: str) -> None:
    """Persist the int8 serving index: (id, scale, codes) — quantization
    is paid ONCE at build time, and every probe scans 64 int8 codes + one
    double per vector (4× less bandwidth than float32 embeddings; parquet
    dictionary/byte encoding shrinks it further). The amortized-build /
    cheap-probe shape of :func:`write_ivf_index` applied to whole-vector
    int8 (MIPS serving)."""
    quantize_embeddings(corpus, id_col, vec_col) \
        .write.mode("overwrite").parquet(path)


def int8_topk_from_index(spark, index_path: str, queries: DataFrame,
                         id_col: str, vec_col: str, k: int = 10) -> DataFrame:
    """Inner-product top-k against a persisted :func:`write_int8_index` —
    the query side quantizes at probe time (tiny by definition) and
    broadcasts; the index side is a pure parquet scan of codes. Identical
    results to :func:`int8_topk` over the same corpus (test-pinned)."""
    return _int8_topk(spark.read.parquet(index_path), queries, id_col,
                      vec_col, k)
