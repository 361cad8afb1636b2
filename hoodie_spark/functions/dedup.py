"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

Scale design (the part that matters at 100 TB):

* Signatures (minhash / simhash / content hash) are computed with
  higher-order array functions INSIDE the row — a map-only stage fused into
  the Parquet scan by whole-stage codegen. No explode of shingles across
  rows, so the shuffle that follows carries only ``(id, band_hash)`` pairs
  (~50 bytes/row) no matter how large the documents are.
* Candidate generation is a self-equi-join on the band hash — Spark plans a
  shuffled hash join keyed on a hex digest, which distributes uniformly by
  construction (hash keys can't skew). Bucket width is bounded by band
  collision probability, not corpus size.
* Verification (exact Jaccard / cosine) runs only on candidate pairs —
  at LSH-typical thresholds that's O(dups), not O(n²).

MinHash uses the lexicographic minimum of md5 hex digests per seeded hash
family (``min(md5(seed || shingle))``) — order-isomorphic to numeric
minhash, engine-portable (the DuckDB oracle replicates it verbatim).

Reference parity: the reference engine has no dedup surface; these extend it
per the north-star (BASELINE.json). Exact dedup mirrors the reference's
in-batch ``deduplicateRecords`` semantics (SparkWriteHelper.java:50) applied
corpus-wide.

Pinned intermediates have one owner, :class:`StageCache`. An operator that
persists a frame (a signature pass its self-join reads twice, the
representatives its verifier joins twice) pins it in a StageCache attached
to its result as ``result._stage_cache``. The frames unpersist when the
caller drops the result or calls ``result._stage_cache.release()``. Hold the
result across the action: a frame derived from it (``.select``,
``.groupBy``) lets the result go, and that derived frame's action pays one
re-evaluation of the pinned stages. Releasing early never changes a result.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_frame
from .text import char_ngrams, tokens

logger = logging.getLogger(__name__)

__all__ = [
    "exact_dedup", "with_minhash", "minhash_candidate_pairs",
    "jaccard_dedup_pairs", "sig_near_pairs", "exact_text_pairs",
    "line_dedup", "edit_dedup_pairs",
    "dedup_keep_best", "containment_dedup_pairs", "with_simhash",
    "simhash_sigs", "simhash_dup_pairs", "embedding_near_dup_pairs",
    "semantic_dedup", "lsh_plan", "corpus_overlap",
    "corpus_overlap_minhash", "group_sketches", "group_distinct_sketch",
    "sketch_distinct_estimate", "merge_sketches",
    "sketch_overlap", "exact_substring_dedup",
]


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's parallelism before a CPU-heavy map.

    Signature computation costs far more than the row shuffle; a small
    corpus read from one parquet file would otherwise hash on 1-2 cores.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


class StageCache:
    """The owner of an operator's persisted frames (see the module
    docstring for the contract): one handle per result, no module-global
    state."""

    def __init__(self):
        self._frames: list = []

    def pin(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until this cache is released. Pin a frame that
        several consumers read — a self-join's two sides, an eager census
        plus the final action — so its upstream runs once."""
        self._frames.append(df.persist())
        return df

    def attach(self, result: DataFrame) -> DataFrame:
        """Tie the pinned frames' lifetime to ``result``."""
        result._stage_cache = self
        return result

    def release(self) -> None:
        for f in self._frames:
            try:
                f.unpersist()
            except Exception:  # Spark session may already be stopped
                pass
        self._frames.clear()

    def __del__(self):  # pragma: no cover - GC timing
        self.release()


def _check_threshold(threshold: float) -> None:
    """Pair operators take a similarity fraction in (0, 1]: above 1 no pair
    can qualify, at or below 0 every pair would."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct content (the one with the smallest id).

    hash-groupBy dedup: ONE aggregation — ``min_by(struct(row), id)`` per
    md5 of the content columns. The partial aggregate keeps a single
    candidate row per hash per map task, so a boilerplate cluster of
    millions of byte-identical rows reduces map-side and ships one row
    per partition through the shuffle — no window (which would sort the
    whole cluster in one task) and no join-back (a second shuffle). One
    shuffle total, skew-immune by the combine.
    """
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]))
    cols = df.columns
    winner = F.min_by(F.struct(*[F.col(c) for c in cols]), F.col(id_col))
    return (df.groupBy(h.alias("__h")).agg(winner.alias("__r"))
            .select(*[F.col(f"__r.{c}").alias(c) for c in cols]))


def minhash_signature(col, num_hashes: int = 16, ngram: int = 5) -> Column:
    """MinHash signature as ``array<string>`` of length ``num_hashes``.

    Element *i* = min over shingles of ``md5('h<i>:' || shingle)``.
    Entirely in-row (no explode): documents of any size cost O(shingles ×
    num_hashes) local CPU and 32 bytes/element of output.
    """
    # bind the shingle array ONCE (no CSE in interpreted HOFs — inlining
    # would re-shingle the text once per hash seed, i.e. num_hashes times)
    def _sig(sh):
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(
                    sh,
                    lambda s: F.md5(F.concat(F.lit("h"), i.cast("string"),
                                             F.lit(":"), s)),
                )
            ),
        )

    return F.element_at(
        F.transform(F.array(char_ngrams(col, ngram)), _sig), 1)


def with_minhash(df: DataFrame, text_col: str, num_hashes: int = 16,
                 ngram: int = 5, out_col: str = "minhash") -> DataFrame:
    return df.withColumn(out_col, minhash_signature(F.col(text_col), num_hashes, ngram))


def minhash_sigs(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int = 16, ngram: int = 5,
                 with_size: bool = False) -> DataFrame:
    """(id, minhash array) via explode + codegen'd md5 columns + partial min.

    Faster shape than :func:`minhash_signature` for bulk runs: higher-order
    lambdas are interpreted per element, while md5 of an exploded column is
    whole-stage-codegen'd. The explode never hits the shuffle — min() is
    partially aggregated map-side, so only (id, num_hashes × 32B) moves.
    Rows with no shingles (text shorter than the n-gram) drop out.
    ``with_size=True`` adds ``__nsh``, the distinct-shingle count — free
    (one more partial aggregate in the same pass) and the input to the
    candidate-stage size gates.
    """
    sh = _spread(df).select(
        F.col(id_col),
        F.explode(char_ngrams(F.col(text_col), ngram)).alias("__sh"))
    mins = [F.min(F.md5(F.concat(F.lit(f"h{i}:"), F.col("__sh")))).alias(f"__h{i}")
            for i in range(num_hashes)]
    if with_size:
        # char_ngrams output is already distinct per doc
        mins.append(F.count(F.lit(1)).alias("__nsh"))
    agg = sh.groupBy(id_col).agg(*mins)
    cols = [F.col(id_col),
            F.array(*[F.col(f"__h{i}")
                      for i in range(num_hashes)]).alias("minhash")]
    if with_size:
        cols.append(F.col("__nsh"))
    return agg.select(*cols)


def bounded_self_pairs(keyed: DataFrame, key_cols: list[str], id_col: str,
                       max_group_rows: int | None,
                       carry: tuple[str, ...] = ()) -> DataFrame:
    """Blocked self-join with hot-key protection — the shared candidate
    generator for every LSH-style dedup operator.

    Joins ``keyed`` to itself on ``key_cols`` and returns
    ``(id_a, id_b[, <c>_a, <c>_b ...])`` with ``id_a < id_b``. A degenerate
    key group (boilerplate-identical docs, all-zero embeddings) makes the
    plain join quadratic in that group — the classic skewed-key
    scale-killer. Groups over ``max_group_rows`` are split into
    ``ceil(n/cap)`` salted sub-groups by ``pmod(xxhash64(id), s)``; rows in
    salt 0 act as PIVOTS replicated into every sub-group, so each row still
    meets its salt peers plus the pivot set: per-group pairs drop from
    O(n²) to O(n·cap) while a duplicate cluster stays CONNECTED through
    the pivots (downstream large-star/small-star grouping is unaffected).
    Pairs between two non-pivot rows in different salts are sacrificed —
    recall loss inside a group that is already ~all mutual duplicates.
    Groups at or under the cap (and the whole plan when nothing is hot)
    are bit-identical to the unguarded join. Splits are logged.

    The census is one map-side-partial aggregate over the (pinned) keyed
    frame; only groups ABOVE the cap are collected (≤ n/cap rows).
    ``max_group_rows=None`` disables the guard entirely.
    """
    hot = []
    if max_group_rows is not None:
        hot = (keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
               .filter(F.col("__n") > max_group_rows).collect())
    if hot:
        logger.warning(
            "bounded_self_pairs: splitting %d hot group(s) on %s "
            "(largest %d rows > cap %d) into salted sub-groups; cross-salt "
            "non-pivot pairs within those groups are skipped",
            len(hot), key_cols, max(r["__n"] for r in hot), max_group_rows)
        from pyspark.sql import types as T

        spark = keyed.sparkSession
        schema = T.StructType(
            [keyed.schema[c] for c in key_cols]
            + [T.StructField("__s", T.IntegerType())])
        splits = local_frame(
            spark, [tuple(r[c] for c in key_cols)
                    + (int(math.ceil(r["__n"] / max_group_rows)),)
                    for r in hot],
            schema)
        keyed = (
            keyed.join(F.broadcast(splits), key_cols, "left")
            .withColumn("__s", F.coalesce(F.col("__s"), F.lit(1)))
            .withColumn("__salt", F.pmod(F.xxhash64(F.col(id_col)),
                                         F.col("__s")).cast("int"))
            # pivots (salt 0) fan out to every sub-group; everyone else
            # lands only in their own — both join sides use the fan-out,
            # so a pair matches iff same salt or either member is a pivot
            .withColumn("__jsalt", F.explode(
                F.when(F.col("__salt") == 0,
                       F.sequence(F.lit(0), F.col("__s") - F.lit(1)))
                .otherwise(F.array(F.col("__salt")))))
            .drop("__s", "__salt"))
        join_on = key_cols + ["__jsalt"]
    else:
        join_on = list(key_cols)
    a, b = keyed.alias("a"), keyed.alias("b")
    sel = [F.col(f"a.{id_col}").alias("id_a"),
           F.col(f"b.{id_col}").alias("id_b")]
    for c in carry:
        sel += [F.col(f"a.{c}").alias(f"{c}_a"),
                F.col(f"b.{c}").alias(f"{c}_b")]
    return (a.join(b, join_on)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(*sel))


def min_sig_matches(threshold: float, num_hashes: int) -> int:
    """Smallest number of agreeing MinHash positions whose agreement
    fraction reaches ``threshold`` — integer compare on both engines, so a
    knife-edge float ratio can never flip the oracle gate."""
    return int(math.ceil(threshold * num_hashes - 1e-9))


def doc_features(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int = 16, bands: int = 4,
                 ngram: int = 5) -> DataFrame:
    """Per-document dedup features: (id, chash, minhash, bands).

    ``chash`` is md5 of the RAW text (byte-identity); ``minhash`` is the
    shingle signature (null for texts shorter than the n-gram — such docs
    participate in exact dedup only); ``bands`` is the LSH band key array.
    One map-side pass plus the signature's partial-min shuffle; the feature
    row is a few hundred bytes regardless of document size, so this is the
    unit that dedup STATE persists per seen doc.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_sigs(df, id_col, text_col, num_hashes, ngram)
    return (df.select(F.col(id_col), F.md5(F.col(text_col)).alias("chash"))
            .join(sig, id_col, "left")
            .withColumn("bands", F.when(
                F.col("minhash").isNotNull(),
                band_keys("minhash", bands, rows_per_band))))


def seen_dedup(df: DataFrame, id_col: str, text_col: str,
               threshold: float = 0.8, num_hashes: int = 16,
               bands: int = 4, ngram: int = 5) -> DataFrame:
    """Arrival-order dedup: keep a document iff NO earlier document
    (smaller ``id_col``) is an exact duplicate (identical text bytes) or a
    near duplicate (shares ≥1 LSH band AND ≥ ``threshold`` of MinHash
    signature positions agree).

    "Earlier" counts every SEEN document, kept or dropped — the pair
    relation is over the whole ordered corpus, which makes the result
    EXACTLY reproducible batch-by-batch: filtering each arriving batch
    against accumulated state (:class:`~hoodie_spark.streaming.incremental_dedup.IncrementalDeduper`)
    yields the same keep-set as this one global pass over the union. That
    equivalence is the driver-verified contract (q:incremental_dedup).

    Scale: exact pass is a groupBy(md5(text)) min + join back (map-side
    partial min, hash-probe join-back — a window here would sort a
    boilerplate cluster of millions of byte-identical docs in one task);
    near pass is the banded self-join (O(candidates), not O(n²));
    signature agreement is an in-row zip — no text re-reads.
    """
    mm = min_sig_matches(threshold, num_hashes)
    cache = StageCache()
    feats = cache.pin(doc_features(df, id_col, text_col, num_hashes, bands,
                                   ngram))
    # NULL text has no content hash: such rows are never exact duplicates
    # of anything (grouping would otherwise collect all NULL chashes into
    # one bogus duplicate class, while any equi-join probe on chash never
    # matches NULL — the filter keeps both formulations agreeing)
    ex = feats.filter(F.col("chash").isNotNull()).select(id_col, "chash")
    # duplicated hashes only (singletons can never drop a row) — same
    # build-side shrink as exact_text_pairs
    exact_mins = (ex.groupBy("chash")
                  .agg(F.min(id_col).alias("__keep"),
                       F.count(F.lit(1)).alias("__nh"))
                  .filter(F.col("__nh") > 1).drop("__nh"))
    exact_dropped = (ex.join(exact_mins, "chash")
                     .filter(F.col(id_col) != F.col("__keep"))
                     .select(F.col(id_col)))
    banded = cache.pin(band_rows(feats.filter(F.col("bands").isNotNull()),
                                 [id_col, "minhash"]))
    near_dropped = (
        bounded_self_pairs(banded, ["band", "bh"], id_col, None,
                           carry=("minhash",))
        .filter(sig_agreement(F.col("minhash_a"), F.col("minhash_b")) >= mm)
        .select(F.col("id_b").alias(id_col)))
    dropped = exact_dropped.unionByName(near_dropped).distinct()
    return cache.attach(df.join(dropped, id_col, "left_anti"))


def sig_agreement(sig_a, sig_b) -> Column:
    """Number of agreeing positions between two equal-length signatures —
    in-row zip_with, no shuffle."""
    return F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                           lambda m: m))


def band_keys(sig_col, bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of ``bands`` structs (band index, md5-of-band)."""
    sig_col = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws("", F.slice(sig_col, b * rows_per_band + 1, rows_per_band))).alias("bh"),
        ),
    )


def band_rows(df: DataFrame, keep: list, bands="bands",
              outer: bool = False) -> DataFrame:
    """One row per LSH band of each document: ``(*keep, band, bh)``.

    ``bands`` is a :func:`band_keys` array, by column name or expression;
    ``keep`` are the columns (names or expressions) each band row
    carries. A document without bands drops out, or with ``outer=True``
    stays as one row whose band and bh are NULL."""
    explode = F.explode_outer if outer else F.explode
    return (df.select(*keep, explode(bands).alias("__bk"))
            .select("*", F.col("__bk.band").alias("band"),
                    F.col("__bk.bh").alias("bh"))
            .drop("__bk"))


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 16, bands: int = 4,
                            ngram: int = 5,
                            max_band_rows: int = 4096) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Plan shape: scan → map (signature) → explode bands (bands× rows of
    (id, band, bh)) → self-join on (band, bh) → distinct. The join input is
    tiny regardless of document size; a (band, bh) group over
    ``max_band_rows`` (boilerplate-identical docs at corpus scale) is
    split by :func:`bounded_self_pairs` so the join stays O(n·cap) per
    group instead of quadratic.
    """
    sig = minhash_sigs(df, id_col, text_col, num_hashes, ngram)
    cache = StageCache()
    banded = cache.pin(band_rows(
        sig, [id_col], band_keys("minhash", bands, num_hashes // bands)))
    return cache.attach(bounded_self_pairs(banded, ["band", "bh"], id_col,
                                           max_band_rows).distinct())


def sig_near_pairs(df: DataFrame, id_col: str, text_col: str,
                   threshold: float = 0.8, num_hashes: int = 16,
                   bands: int = 4, ngram: int = 5,
                   max_band_rows: int = 4096) -> DataFrame:
    """Near-duplicate pairs gated by MinHash signature agreement —
    ``sig_agreement ≥ min_sig_matches(threshold, num_hashes)`` — the
    SAME gate IncrementalDeduper and SplitMaintainer apply, exposed as a
    batch pair source. Returns distinct ``(id_a, id_b)``.

    Why this exists next to :func:`jaccard_dedup_pairs`: the exact
    verify there needs a second join carrying shingle arrays (now at the
    distinct-text grain with a size gate — the original per-id-pair
    shape spilled >36 GB on a ×100 template corpus; the distinct-grain
    rewrite collapses template clusters but a corpus of millions of
    DISTINCT near-dup texts still ships one array per distinct pair).
    Here the signatures ride THROUGH the banded self-join
    (``bounded_self_pairs(carry=("minhash",))``) and verification is an
    in-row zip — no second join, no shingle payload, hot-group guarded.
    The trade: agreement/num_hashes is an
    ESTIMATE of Jaccard (±1/√H), so the pair set is the estimator's,
    not the exact-threshold one — the right trade wherever the
    downstream op needs a consistent duplicate RELATION rather than a
    calibrated similarity (splits, incremental dedup)."""
    mm = min_sig_matches(threshold, num_hashes)
    sig = minhash_sigs(df, id_col, text_col, num_hashes, ngram)
    cache = StageCache()
    banded = cache.pin(band_rows(
        sig, [id_col, "minhash"],
        band_keys("minhash", bands, num_hashes // bands)))
    return cache.attach(
        bounded_self_pairs(banded, ["band", "bh"], id_col, max_band_rows,
                           carry=("minhash",))
        .filter(sig_agreement(F.col("minhash_a"), F.col("minhash_b")) >= mm)
        .select("id_a", "id_b").distinct())


def exact_text_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_a, id_b) edges between byte-identical texts: ``id_a`` is the
    group's smallest id (the canonical member), ``id_b`` every other
    member — a star per duplicate group, which is all a downstream
    connected-components fold needs. NULL texts carry no edges.

    Scale shape: groupBy(md5(text)) min + join back — the per-hash
    canonical is a map-side-combined partial min and the join-back
    streams a hot hash through a hash probe (AQE skew-split applies).
    Never a window over the content hash: a window would sort a
    boilerplate cluster of millions of byte-identical docs in ONE task —
    the exact population an exact-duplicate relation exists for."""
    h = F.md5(F.col(text_col))
    hashed = df.select(F.col(id_col), h.alias("__h")) \
        .filter(F.col("__h").isNotNull())
    # keep only hashes with ≥2 members: singleton groups can never emit
    # an edge (the join-back row fails __first != id), so dropping them
    # up front shrinks the join's build side from every-distinct-text to
    # just the duplicated texts — usually a small fraction, letting AQE
    # pick a broadcast join where the unfiltered side could not
    firsts = (hashed.groupBy("__h")
              .agg(F.min(id_col).alias("__first"),
                   F.count(F.lit(1)).alias("__nh"))
              .filter(F.col("__nh") > 1).drop("__nh"))
    return (hashed.join(firsts, "__h")
            .filter(F.col("__first") != F.col(id_col))
            .select(F.col("__first").alias("id_a"),
                    F.col(id_col).alias("id_b")))


def dedup_keep_best(df: DataFrame, id_col: str, text_col: str,
                    score_col: str, threshold: float = 0.8,
                    num_hashes: int = 16, bands: int = 4, ngram: int = 5,
                    max_band_rows: int = 4096) -> DataFrame:
    """Near-duplicate dedup that keeps the BEST-scoring document of each
    duplicate cluster — what a production corpus pipeline actually wants
    from dedup: min-id/arrival-order dedup (:func:`seen_dedup`) keeps
    whichever copy happened to arrive first, while the copies of a page
    differ in extraction quality, truncation, boilerplate; keeping the
    highest-``score_col`` member (longest extraction, best quality
    score, lowest perplexity negated — caller's choice) retains strictly
    better training data for the same dedup rate.

    Duplicate relation: exact-text edges (:func:`exact_text_pairs`) ∪
    signature-agreement near edges (:func:`sig_near_pairs`, the same
    gate the split/incremental-dedup family uses), resolved to connected
    components by the large-star/small-star fold. Winner per cluster =
    highest score, ties broken by smallest id (NULL scores sort below
    every number). Returns the winning rows — all of ``df``'s columns
    plus ``n_dups``, the cluster size the winner represents (1 for
    docs with no duplicate).

    Scale shape (100 TB): pair generation is the hot-group-guarded LSH
    shape with in-row verification (no shingle-payload join); components
    are the map-side star fold; winner selection is two
    map-side-combinable aggregates (per-cluster max score, then min id
    among ties) + hash-probe joins back — no window over the cluster
    key anywhere, so a million-member boilerplate cluster never sorts in
    one task.

    Precondition: ``id_col`` values are unique (the contract every dedup
    entry point here shares) — the winner filter selects the winning
    id's max-score row, which is "the winner's rows" only under unique
    ids."""
    from .components import duplicate_groups

    near = sig_near_pairs(df, id_col, text_col, threshold, num_hashes,
                          bands, ngram, max_band_rows)
    pairs = near.unionByName(exact_text_pairs(df, id_col, text_col))
    groups = duplicate_groups(pairs).select(
        F.col("id").alias("__mid"), F.col("group_id").alias("__g"))
    # duplicate_groups checkpointed the pairs: nothing reads near's pin
    near._stage_cache.release()
    keyed = (df.join(groups, df[id_col] == F.col("__mid"), "left")
             .drop("__mid")
             .withColumn("__g", F.coalesce(F.col("__g"), F.col(id_col))))
    s = F.coalesce(F.col(score_col).cast("double"),
                   F.lit(float("-inf")))
    best = keyed.groupBy("__g").agg(F.max(s).alias("__smax"),
                                    F.count(F.lit(1)).alias("n_dups"))
    tied = (keyed.join(best, "__g")
            .filter(s == F.col("__smax")))
    winner = tied.groupBy("__g").agg(F.min(id_col).alias("__wid"))
    # Winner rows come from `tied` (which already carries every df column
    # plus n_dups from the `best` join) instead of a fresh
    # keyed⋈best⋈winner chain — one corpus-sized shuffle join instead of
    # two, bit-identical output (the winner is by construction a tied
    # row).
    return (tied.join(winner, "__g")
            .filter(F.col(id_col) == F.col("__wid"))
            .drop("__g", "__wid", "__smax"))


def _verify_hash_pairs(hp: DataFrame, reps: DataFrame, gate, score,
                       name: str) -> DataFrame:
    """Verify each distinct-text pair once. ``hp`` holds ``(__h1, __h2)``
    content-hash pairs of two different texts; ``reps`` holds one
    ``(__ch, __p, __sz)`` row per distinct text (its md5, the payload the
    verifier reads and the payload's size). ``gate(sz1, sz2)`` prunes on
    sizes alone, before any payload is joined (None: no gate).
    ``score(p1, p2, sz1, sz2)`` returns ``(measure, verdict)``: the
    expensive call, and ``verdict(m) -> (value, keep)`` over its result.
    Returns ``(__h1, __h2, <name>)`` for the kept pairs. The measure comes
    out of ``explode(array(measure))``: Catalyst would copy a projected
    call into the join condition with the keep filter, but pushes no
    filter below the generator its input comes from, so the call runs
    once per pair."""
    def side(i, cols):
        return reps.select(F.col("__ch").alias(f"__h{i}"),
                           *[F.col(c).alias(f"{c}{i}") for c in cols])

    cols = ["__p", "__sz"]
    if gate is not None:
        hp = (hp.join(side(1, ["__sz"]), "__h1")
              .join(side(2, ["__sz"]), "__h2")
              .filter(gate(F.col("__sz1"), F.col("__sz2"))))
        cols = ["__p"]
    sz1, sz2 = F.col("__sz1"), F.col("__sz2")
    measure, verdict = score(F.col("__p1"), F.col("__p2"), sz1, sz2)
    value, keep = verdict(F.col("__m"))
    return (hp.join(side(1, cols), "__h1").join(side(2, cols), "__h2")
            .select("__h1", "__h2", sz1, sz2,
                    F.explode(F.array(measure)).alias("__m"))
            .filter(keep).select("__h1", "__h2", value.alias(name)))


def _verify_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      sig: DataFrame, num_hashes: int, bands: int,
                      max_band_rows: int | None, payload, size, gate, score,
                      name: str, same_when=None) -> DataFrame:
    """LSH candidate pairs verified at the distinct-text grain.

    ``sig`` holds ``(id, minhash, __sz)``, ``__sz`` being the document's
    ``size(payload(text))``. Candidates are the id pairs sharing a band,
    pruned by ``gate(sz_a, sz_b)`` in-row, before the ``.distinct()``
    that consolidates them. Each id then maps to its text's md5; each
    distinct hash pair is verified once by :func:`_verify_hash_pairs`
    against one representative per distinct text, and the verdicts join
    back to the id pairs. Two copies of one text score 1.0 without a
    verify, where ``same_when(size)`` holds (always when None). Returns
    ``(id_a, id_b, <name>)``, its pinned frames owned by the result.

    A template-heavy corpus, the population that makes candidate pairs
    explode, collapses: N byte-identical docs contribute ONE hash, and
    cross-template pairs verify once per template pair. The earlier
    per-id-pair verify join spilled >36 GB of shuffle on a ×100 template
    corpus; this shape ships each distinct payload once per distinct
    counterpart instead."""
    cache = StageCache()
    banded = cache.pin(band_rows(
        sig, [id_col, "__sz"],
        band_keys("minhash", bands, num_hashes // bands)))
    cands = (bounded_self_pairs(banded, ["band", "bh"], id_col,
                                max_band_rows, carry=("__sz",))
             .filter(gate(F.col("__sz_a"), F.col("__sz_b")))
             .select("id_a", "id_b").distinct())
    docs = cache.pin(df.select(F.col(id_col),
                               F.md5(F.col(text_col)).alias("__ch")))
    # one representative per distinct text: same hash ⇒ same bytes ⇒ same
    # payload, so which row wins the dropDuplicates race is irrelevant,
    # and the payload is computed once per distinct text
    reps = cache.pin(
        _spread(df.select(F.md5(F.col(text_col)).alias("__ch"),
                          F.col(text_col).alias("__t"))
                .filter(F.col("__ch").isNotNull())
                .dropDuplicates(["__ch"]))
        .select("__ch", payload(F.col("__t")).alias("__p"))
        .withColumn("__sz", size(F.col("__p"))))
    pc = cache.pin(
        cands
        .join(docs.select(F.col(id_col).alias("id_a"),
                          F.col("__ch").alias("__ha")), "id_a")
        .join(docs.select(F.col(id_col).alias("id_b"),
                          F.col("__ch").alias("__hb")), "id_b")
        .withColumn("__h1", F.least("__ha", "__hb"))
        .withColumn("__h2", F.greatest("__ha", "__hb")))
    hp = pc.select("__h1", "__h2").distinct()
    same = hp.filter(F.col("__h1") == F.col("__h2"))
    if same_when is not None:
        same = (same.join(reps.select(F.col("__ch").alias("__h1"), "__sz"),
                          "__h1")
                .filter(same_when(F.col("__sz"))))
    verdicts = (_verify_hash_pairs(hp.filter(F.col("__h1") != F.col("__h2")),
                                   reps, gate, score, name)
                .unionByName(same.select("__h1", "__h2",
                                         F.lit(1.0).alias(name))))
    return cache.attach(pc.join(verdicts, ["__h1", "__h2"])
                        .select("id_a", "id_b", name))


def jaccard_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.8, num_hashes: int = 16,
                        bands: int = 4, ngram: int = 5,
                        max_band_rows: int = 4096) -> DataFrame:
    """Near-duplicate pairs with exact n-gram Jaccard ≥ threshold.

    LSH candidates first (cheap), exact |∩|/|∪| verification on candidates
    only. Returns (id_a, id_b, jaccard).

    Verification runs at the DISTINCT-TEXT grain
    (:func:`_verify_lsh_pairs`): Jaccard depends only on the two texts, so
    each distinct (hash_a, hash_b) is verified ONCE against one
    representative shingle array per hash. Identical-hash pairs skip the
    array verify (Jaccard is exactly 1.0 when the shingle set is
    non-empty, matching the n/n the formula would compute).

    A size gate prunes candidate pairs IN-ROW, before the ``.distinct()``
    that consolidates them and again before the arrays are joined:
    |∩| ≤ min(n_a, n_b) and |∪| ≥ max(n_a, n_b), so a pair with min/max
    below the threshold can never verify (epsilon keeps exact boundary
    pairs — integer sizes whose ratio equals the threshold — flowing to
    the exact check). Gating before the distinct matters as much as the
    grain: on a corpus whose band groups sit just under the hot-group
    cap, raw candidate pairs grow quadratically per group (measured:
    500k synthetic docs → hundreds of millions of pairs whose distinct()
    alone exhausted executor memory); the in-row gate drops most of them
    where they are produced, the same discipline as sig_near_pairs'
    agreement gate.
    """
    _check_threshold(threshold)

    def size_ok(n1, n2):
        return (F.least(n1, n2).cast("double")
                / F.greatest(n1, n2).cast("double")
                >= F.lit(float(threshold)) - F.lit(1e-9))

    def jaccard(sh1, sh2, n1, n2):
        def verdict(i):
            # shingle arrays are distinct sets: |∪| = n1 + n2 - |∩|
            j = i.cast("double") / (n1 + n2 - i).cast("double")
            return j, j >= threshold
        return F.size(F.array_intersect(sh1, sh2)), verdict

    sig = (minhash_sigs(df, id_col, text_col, num_hashes, ngram,
                        with_size=True).withColumnRenamed("__nsh", "__sz"))
    return _verify_lsh_pairs(
        df, id_col, text_col, sig, num_hashes, bands, max_band_rows,
        lambda t: char_ngrams(t, ngram), F.size, size_ok, jaccard,
        "jaccard", same_when=lambda n: n > 0)


def line_dedup(df: DataFrame, id_col: str, text_col: str,
               max_df: int = 1) -> DataFrame:
    """Cross-document line-level dedup (the C4/CCNet boilerplate filter):
    drop every line whose exact-byte occurrence count across the WHOLE
    corpus exceeds ``max_df``, then reassemble each document from its
    surviving lines in original order. Returns ``(id_col, text_col)`` —
    one row per input document; a document whose every line was
    boilerplate comes back as the empty string (callers chain a length
    filter, as C4 does).

    Counting is by raw line bytes (no normalization): navigation chrome,
    cookie banners, and subscription prompts repeat byte-identically
    across a crawl, which is exactly what makes them droppable, while
    near-identical sentences are near-dup territory
    (:func:`jaccard_dedup_pairs`), not line dedup's.

    Scale shape (100 TB): explode to ``(id, pos, line)`` once; the
    occurrence census is one ``groupBy(line).count()`` — map-side partial
    counts mean a line repeated a billion times ships ONE row per map
    task, so hot boilerplate cannot skew the shuffle; the drop is a
    left-anti join against only the OVER-CAP lines (≤ distinct-boilerplate
    rows, typically tiny — broadcastable by AQE); reassembly is one
    groupBy(id) whose collect_list payload is bounded by the document's
    own size, the same bound the raw text row already had. No window, no
    self-join anywhere.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__ln"))
    hot = (lines.groupBy("__ln").agg(F.count(F.lit(1)).alias("__c"))
           .filter(F.col("__c") > max_df).select("__ln"))
    kept = lines.join(hot, "__ln", "left_anti")
    body = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__ln"))),
                    lambda s: s["__ln"]), "\n")
    rebuilt = kept.groupBy(id_col).agg(body.alias("__t"))
    return (df.select(id_col).join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__t"), F.lit("")).alias(text_col)))


def edit_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                     threshold: float = 0.9, num_hashes: int = 16,
                     bands: int = 4, ngram: int = 5,
                     max_band_rows: int = 4096) -> DataFrame:
    """Near-duplicate pairs by normalized edit similarity:
    ``1 - levenshtein(a, b) / max(len(a), len(b)) ≥ threshold`` over
    MinHash-LSH candidates. Returns ``(id_a, id_b, similarity)``.

    Jaccard is blind to ORDER (shuffled sentences keep their shingles);
    edit similarity is the order-sensitive verifier — the right gate for
    truncation/suffix-spam variants where callers want "same text modulo
    k character edits". Candidates come from the shared banded-LSH shape
    (normalized-text shingles); verification compares the RAW texts.

    Scale shape — the distinct-text verify of :func:`_verify_lsh_pairs`:
    byte-identical pairs short-circuit to similarity 1.0 with no text
    comparison and each distinct (hash_a, hash_b) is verified ONCE, so a
    template cluster never ships O(copies²) text payloads. The length
    gate (``lev ≥ |len_a - len_b|`` ⇒ similarity ≤ 1 - |Δlen|/max_len) runs IN-ROW on the banded
    self-join, BEFORE the ``.distinct()`` that consolidates candidates —
    sub-cap hot band groups produce quadratically many raw pairs and
    consolidating them ungated is itself a scale-killer (measured at a
    ×100 probe) — and again at the hash grain before texts are joined.
    The surviving Levenshtein calls pass Spark's bounded variant
    (``F.levenshtein(l, r, threshold)``) so the DP loop abandons a pair
    the moment the distance budget ``⌊(1-t)·max_len⌋`` is exhausted —
    O(budget·len) instead of O(len²) per verify.
    """
    _check_threshold(threshold)

    def len_ok(l1, l2):
        return ((F.lit(1.0) - F.abs(l1 - l2).cast("double")
                 / F.greatest(l1, l2).cast("double"))
                >= F.lit(float(threshold)) - F.lit(1e-9))

    def similarity(t1, t2, l1, l2):
        lmax = F.greatest(l1, l2).cast("double")
        # distance budget: sim ≥ t ⇔ lev ≤ (1-t)·max_len; the bounded
        # levenshtein returns -1 past the budget
        budget = F.floor((F.lit(1.0) - F.lit(float(threshold))
                          + F.lit(1e-9)) * lmax).cast("int")

        def verdict(lev):
            sim = F.lit(1.0) - lev.cast("double") / lmax
            return sim, (lev >= 0) & (sim >= threshold)
        return F.call_function("levenshtein", t1, t2, budget), verdict

    sig = (minhash_sigs(df, id_col, text_col, num_hashes, ngram)
           .join(df.select(F.col(id_col), F.length(text_col).alias("__sz")),
                 id_col))
    return _verify_lsh_pairs(
        df, id_col, text_col, sig, num_hashes, bands, max_band_rows,
        lambda t: t, F.length, len_ok, similarity, "similarity")


def corpus_overlap(df: DataFrame, group_col: str, text_col: str,
                   ngram: int = 5) -> DataFrame:
    """Exact pairwise shingle-set Jaccard between corpora (sources).

    Corpus-level contamination / redundancy analytics: for every pair of
    ``group_col`` values (group_a < group_b), the Jaccard similarity of
    their distinct character-n-gram SETS — "how much of source A's
    content vocabulary is shared with source B". Returns one row per
    group pair: (group_a, group_b, shingles_a, shingles_b, intersection,
    jaccard), including zero-overlap pairs.

    Plan shape: explode → distinct (partial map-side) keyed by
    (group, shingle), then an equi-self-join on the shingle — fully
    hash-partitioned, no single-point stage. Per-shingle fan-out is
    bounded by the group count G (a shingle appears at most once per
    group after the distinct), so the join output is ≤ G²/2 rows per
    shingle — G is small by contract (data sources, not documents). The
    final pair frame is G²/2 rows; group sizes broadcast onto it. For
    corpora where even the distinct-shingle scan is too wide, use
    :func:`corpus_overlap_minhash` — one shuffle of G×H rows total.
    """
    g = F.col(group_col).alias("__g")
    sh = (df.select(g, F.explode(char_ngrams(F.col(text_col), ngram))
                    .alias("__sh"))
          .distinct())
    sizes = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    inter = (sh.alias("x")
             .join(sh.alias("y"), (F.col("x.__sh") == F.col("y.__sh"))
                   & (F.col("x.__g") < F.col("y.__g")))
             .groupBy(F.col("x.__g").alias("__ga"),
                      F.col("y.__g").alias("__gb"))
             .agg(F.count(F.lit(1)).alias("__i")))
    a, b = sizes.alias("a"), sizes.alias("b")
    pairs = (F.broadcast(a).crossJoin(F.broadcast(b))
             .filter(F.col("a.__g") < F.col("b.__g")))
    i = F.coalesce(F.col("__i"), F.lit(0)).cast("long")
    return (pairs.join(inter, (F.col("a.__g") == F.col("__ga"))
                       & (F.col("b.__g") == F.col("__gb")), "left")
            .select(F.col("a.__g").alias("group_a"),
                    F.col("b.__g").alias("group_b"),
                    F.col("a.__n").alias("shingles_a"),
                    F.col("b.__n").alias("shingles_b"),
                    i.alias("intersection"),
                    (i.cast("double")
                     / (F.col("a.__n") + F.col("b.__n") - i).cast("double")
                     ).alias("jaccard")))


def corpus_overlap_minhash(df: DataFrame, group_col: str, text_col: str,
                           num_hashes: int = 64,
                           ngram: int = 5) -> DataFrame:
    """Estimated pairwise corpus Jaccard from per-group MinHash sketches.

    The 100 TB path for :func:`corpus_overlap`: each group's shingle SET
    is sketched by ``num_hashes`` minima (same ``md5('h<i>:'||shingle)``
    scheme as :func:`minhash_signature`, so the estimate is
    engine-reproducible), and the estimated Jaccard of a pair is the
    fraction of agreeing sketch components. One shuffle moves only
    G × num_hashes × 32 B — the mins partially aggregate map-side, so
    nothing corpus-sized crosses the wire; the pairing is a broadcast
    cross of G sketch rows. Groups whose every document is shorter than
    the n-gram have no shingles and drop out.

    Standard error is ~sqrt(J(1-J)/num_hashes) (≈6 % at J=0.5, H=64);
    raise ``num_hashes`` for tighter corpus-level estimates.
    """
    return sketch_overlap(group_sketches(df, group_col, text_col,
                                         num_hashes, ngram), num_hashes)


def group_sketches(df: DataFrame, group_col: str, text_col: str,
                   num_hashes: int = 64, ngram: int = 5) -> DataFrame:
    """Per-group MinHash sketch rows ``(__g, __h0..__h<H-1>)``.

    The sketch is a MONOID under componentwise min: sketches of two
    batches merge into the sketch of their union by ``min`` per
    component — which is what makes the maintained/incremental form
    (streaming.CorpusSketchMaintainer) EXACTLY equal to the batch form,
    not an approximation of it."""
    # NOTE (r15): a distinct-before-hash rewrite (the
    # group_distinct_sketch shape) was tried here and REVERTED on
    # measurement: at the character-n-gram grain the md5 fan-out is only
    # ~1 s/side at sf0.1 while the added (group, shingle) distinct
    # shuffle + barrier stages cost ~2-3 s/side (A/B warm 4.6 s vs 2.4 s
    # whole-operator). The explode → partial-min shape below ships only
    # G × H × 32 B through its exchange — nothing shingle-stream-sized
    # ever shuffles, which is the property that matters at 100 TB.
    sh = df.select(F.col(group_col).alias("__g"),
                   F.explode(char_ngrams(F.col(text_col), ngram))
                   .alias("__sh"))
    mins = [F.min(F.md5(F.concat(F.lit(f"h{i}:"), F.col("__sh"))))
            .alias(f"__h{i}") for i in range(num_hashes)]
    return sh.groupBy("__g").agg(*mins)


def group_distinct_sketch(df: DataFrame, group_col: str, value_col: str,
                          num_hashes: int = 64,
                          salt: str = "") -> DataFrame:
    """Per-group approximate distinct count from a min-value sketch —
    the corpus-scale substitute for ``countDistinct`` (vocabulary size
    per source, unique ids per shard) when the exact answer would
    shuffle every distinct value. Returns ``(group_col, est_distinct)``.

    Sketch: ``num_hashes`` independent per-group minima of
    ``md5(salt·h<i>: || value)`` — the SAME monoid as
    :func:`group_sketches` (componentwise min merges batches exactly),
    so state per group is H × 32 bytes and the aggregate is map-side
    combinable: a billion-row group ships one candidate per partition.
    Estimate: each min, read as a uniform ``u ∈ (0,1)`` from its first
    15 hex chars, has ``E[u] = 1/(n+1)`` over ``n`` distinct values, so
    ``n̂ = H / Σu − 1`` (stochastic averaging; relative error
    ~``1/√H``, ~12% at the default 64). Deterministic and
    engine-EXACT: the 60-bit parse, the fixed left-to-right summation
    order, and IEEE division reproduce bit-identically in DuckDB — the
    oracle checks the estimate itself, not a tolerance band.

    NULL values carry no hash and never count (matching
    ``count(DISTINCT v)`` semantics); a group of only NULLs is absent.
    """
    # Distinct BEFORE hashing: the per-group min over all occurrences
    # equals the min over distinct (group, value) pairs, and H md5s per
    # row is the dominant cost — a natural-language token stream carries
    # each (group, token) hundreds of times (sf0.1 corpus: 270k token
    # rows, 620 distinct pairs), so the distinct collapses the hash work
    # by that duplication factor while the pre-aggregation underneath it
    # is map-side combined. The distinct's shuffle also spreads the hash
    # stage across the session's parallelism (what _spread did before).
    # The round-robin repartition between the distinct and the hash
    # aggregate is LOAD-BEARING twice over: (a) without a barrier,
    # Catalyst's RemoveRedundantAggregates ELIMINATES the distinct (min
    # is duplicate-agnostic) and the 64-md5 partial agg runs over the
    # raw occurrence stream again — measured 7.3 s vs 0.2 s warm at
    # sf0.1; (b) it spreads the hash stage across the session's
    # parallelism (the role _spread played before).
    sc = df.sparkSession.sparkContext
    vals = (df.select(F.col(group_col).alias("__g"),
                      F.col(value_col).cast("string").alias("__v"))
            .filter(F.col("__v").isNotNull())
            .distinct()
            .repartition(sc.defaultParallelism))
    mins = [F.min(F.md5(F.concat(F.lit(f"{salt}h{i}:"), F.col("__v"))))
            .alias(f"__h{i}") for i in range(num_hashes)]
    sk = vals.groupBy("__g").agg(*mins)
    return sk.select(F.col("__g").alias(group_col),
                     sketch_distinct_estimate(num_hashes)
                     .alias("est_distinct"))


def sketch_distinct_estimate(num_hashes: int) -> Column:
    """The min-value cardinality estimator over ``__h0..__h<H-1>``
    minima columns: ``round(H / Σu − 1, 4)`` with each ``u`` parsed from
    the first 15 hex chars. Shared by :func:`group_distinct_sketch` and
    the maintained sketch's ``est_distinct()`` view — the summation
    order is the fixed left-to-right fold, so the value is bit-portable
    across engines."""
    def u(i: int):
        return ((F.conv(F.substring(F.col(f"__h{i}"), 1, 15), 16, 10)
                 .cast("long") + F.lit(1))
                / F.lit(float(16 ** 15 + 1)))

    total = u(0)
    for i in range(1, num_hashes):
        total = total + u(i)  # fixed fold order — portable float sum
    return F.round(F.lit(float(num_hashes)) / total - F.lit(1.0), 4)


def merge_sketches(a: DataFrame, b: DataFrame,
                   num_hashes: int = 64) -> DataFrame:
    """Monoid merge: componentwise min per group over the union."""
    mins = [F.min(f"__h{i}").alias(f"__h{i}") for i in range(num_hashes)]
    return a.unionByName(b).groupBy("__g").agg(*mins)


def sketch_overlap(sigs: DataFrame, num_hashes: int = 64) -> DataFrame:
    """Pairwise estimated Jaccard from :func:`group_sketches` rows."""
    a, b = sigs.alias("a"), sigs.alias("b")
    matches = sum((F.col(f"a.__h{i}") == F.col(f"b.__h{i}")).cast("int")
                  for i in range(num_hashes))
    return (F.broadcast(a).crossJoin(F.broadcast(b))
            .filter(F.col("a.__g") < F.col("b.__g"))
            .select(F.col("a.__g").alias("group_a"),
                    F.col("b.__g").alias("group_b"),
                    (matches.cast("double") / F.lit(float(num_hashes)))
                    .alias("est_jaccard")))


def simhash_signature(col, bits: int = 16) -> Column:
    """SimHash over whitespace tokens as a ``bits``-char '0'/'1' string.

    Bit *i* is the high bit of hex nibble *i* of each token's md5 (a char in
    '89abcdef' ⇒ 1); the signature bit is 1 when the +1/−1 vote sum over
    tokens is positive. bits ≤ 32 (md5 has 32 nibbles). In-row compute only.

    NOTE: higher-order lambdas are interpreted, and the hashed-token
    subexpression is re-evaluated per bit — this Column form costs
    O(bits × tokens) md5 calls. For bulk corpus runs use
    :func:`simhash_sigs` (explode shape, one codegen'd md5 per token).
    """
    toks = tokens(col)
    votes = F.transform(
        F.sequence(F.lit(1), F.lit(bits)),
        lambda i: F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.md5(t).substr(i, F.lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                     F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.concat_ws("", F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))))


_HEX_HI = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_sigs(df: DataFrame, id_col: str, text_col: str,
                 bits: int = 16) -> DataFrame:
    """(id, simhash) via explode + codegen'd md5 + map-side partial sums.

    Each token is md5'd exactly once in whole-stage codegen; the ``bits``
    per-bit votes are plain CASE sums partially aggregated map-side, so the
    shuffle carries only (id, bits × 8 B).

    Measured caveat (sf0.1, local[32], warm JVM): the in-row
    :func:`simhash_signature` fold is ~10× FASTER than this explode shape —
    the token-row materialization dominates the md5 recomputation it avoids.
    Use this variant only when the merge-rows-sharing-an-id contract below
    is required; :func:`simhash_dup_pairs` uses the in-row form.

    Token-less rows survive via ``explode_outer`` (one null-hash row that
    votes 0 on every bit), so the vote sum is 0 and the signature is
    all-zero — matching the Column form, where an empty vote sum is never
    > 0 — in ONE aggregation with no second input pass or restore join.

    Multiplicity contract: the groupBy returns ONE row per distinct
    ``id_col`` value. Rows sharing an id have their token streams merged
    into a single signature (they do not each get a row — callers needing
    per-row signatures should pre-assign a unique id).
    """
    hashed = _spread(df).select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__tok")
    ).select(F.col(id_col), F.md5("__tok").alias("__h"))
    votes = [
        F.sum(F.when(F.col("__h").isNull(), 0)
               .when(F.substring("__h", i, 1).isin(*_HEX_HI), 1).otherwise(-1))
        .alias(f"__v{i}")
        for i in range(1, bits + 1)
    ]
    sig = F.concat(*[
        F.when(F.col(f"__v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, bits + 1)
    ])
    return hashed.groupBy(id_col).agg(*votes).select(
        F.col(id_col), sig.alias("simhash"))


def with_simhash(df: DataFrame, text_col: str, bits: int = 16,
                 out_col: str = "simhash") -> DataFrame:
    return df.withColumn(out_col, simhash_signature(F.col(text_col), bits))


def hamming(a, b, bits: int) -> Column:
    """Hamming distance between two equal-length bit strings."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)),
        F.lit(0),
        lambda acc, i: acc + F.when(a.substr(i, F.lit(1)) != b.substr(i, F.lit(1)),
                                    F.lit(1)).otherwise(F.lit(0)),
    )


def simhash_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                      bits: int = 16, max_distance: int = 2,
                      blocks: int = 2,
                      max_block_rows: int = 4096) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ max_distance.

    Candidate generation blocks the signature into ``blocks`` segments and
    joins on any matching segment. Pigeonhole guarantee: a pair within
    distance ``blocks − 1`` always shares an identical segment; larger
    distances (up to ``max_distance``) are found with high probability but
    not guaranteed. Raising ``blocks`` to ``max_distance + 1`` makes recall
    exact at the cost of shorter join keys (wider collision buckets — on
    near-homogeneous corpora that can approach a cross join, so the default
    trades guaranteed recall at d≥2 for bounded candidate counts).
    Returns (id_a, id_b, distance).
    """
    seg = bits // blocks
    # in-row signature (one row per input row; ids are the caller's dedup
    # unit). The explode+groupBy form (simhash_sigs) measured ~10× slower
    # at sf0.1 — see its docstring — and pair generation needs no id-merge.
    cache = StageCache()
    sh = cache.pin(_spread(df).select(
        F.col(id_col),
        simhash_signature(F.col(text_col), bits).alias("simhash")))
    segments = [
        F.concat(F.lit(f"B{i}:"),
                 F.col("simhash").substr(i * seg + 1,
                                         seg if i < blocks - 1 else bits - i * seg))
        for i in range(blocks)
    ]
    blocked = sh.select(
        id_col, "simhash", F.explode(F.array(*segments)).alias("block"))
    # hot-block guard: a near-homogeneous corpus collapses a whole segment
    # value onto one block key — bounded_self_pairs keeps it O(n·cap)
    cand = bounded_self_pairs(blocked, ["block"], id_col, max_block_rows,
                              carry=("simhash",)).distinct()
    return cache.attach(
        # cast to long: DuckDB's list_sum yields HUGEINT — both engines must
        # present the distance as int64 for the value-hash gate to agree
        cand.select("id_a", "id_b",
                    hamming("simhash_a", "simhash_b",
                            bits).cast("long").alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95, planes: int = 8,
                             dim: int | None = None,
                             max_bucket_rows: int = 4096) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking.

    Each vector maps to a ``planes``-bit bucket (sign of dot with a
    deterministic ±1 hyperplane derived from md5 — engine-portable, no
    stored model). Cosine is verified exactly within buckets. Vectors whose
    cosine ≥ threshold land in the same bucket with probability
    ``(1 − θ/π)^planes``; for dedup-grade thresholds (≥0.95) that's ≈0.9 —
    run with two plane seeds and union for higher recall. Returns
    (id_a, id_b, cos).

    Hot-bucket guard: at corpus scale a degenerate bucket (all-zero or
    boilerplate-identical embeddings hashing to one sign key) makes the
    within-bucket self-join quadratic — :func:`bounded_self_pairs` splits
    buckets over ``max_bucket_rows`` into salted sub-buckets with pivot
    replication: O(n·cap) pairs, cluster connectivity preserved for
    ``duplicate_groups``, under-cap buckets bit-identical to the
    unguarded join (the sf0.01 oracle row exercises that path).
    """
    from .similarity import cosine, sign_lsh_key

    cache = StageCache()
    keyed = cache.pin(
        _spread(df).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("bucket", sign_lsh_key(F.col("v"), planes, dim)))
    return cache.attach(
        bounded_self_pairs(keyed, ["bucket"], id_col, max_bucket_rows,
                           carry=("v",))
        .select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   n_clusters: int = 16, threshold: float = 0.99,
                   centroids: DataFrame | None = None,
                   max_cluster_rows: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embeddings, treat any
    within-cluster pair with cosine >= ``threshold`` as semantic
    duplicates, keep ONE representative per connected duplicate group.
    The representative is the smallest id (deterministic; the paper keeps
    a low-centroid-similarity member — pass your own policy by composing
    :func:`~hoodie_spark.functions.components.duplicate_groups` directly).

    Clustering: nearest of ``n_clusters`` deterministic centroids (the
    corpus vectors with the smallest ids — the :func:`ivf_topk`
    convention; pass ``kmeans_centroids(...)`` output as ``centroids``
    for trained clusters). Complements :func:`embedding_near_dup_pairs`:
    sign-LSH blocks by random hyperplanes (recall knob = planes),
    SemDeDup blocks by cluster structure (recall knob = n_clusters) and
    returns the surviving ROWS rather than pairs.

    Scale: centroid assignment is one broadcast map pass over the corpus;
    the pair join is cluster-local (never all-pairs) and shuffles each
    cluster once; ``max_cluster_rows`` routes through
    :func:`bounded_self_pairs`, so a degenerate cluster costs O(n*cap)
    with connectivity preserved. At 100 TB use trained centroids with
    n_clusters ~ corpus/10k so clusters stay self-join-sized.
    """
    from .components import dedup_by_groups
    from .similarity import (_assign_centroids, _cos, _default_centroids,
                             _prep)

    if centroids is None:
        centroids = _default_centroids(df, id_col, n_clusters)
    # pin: the self-join consumes the assignment twice (three times with
    # the census) — without the boundary the broadcast-centroid argmax
    # pass would re-run per branch
    cache = StageCache()
    assigned = cache.pin(
        _assign_centroids(_prep(df, id_col, vec_col, "c"),
                          _prep(centroids, id_col, vec_col, "k"))
        .withColumnRenamed("c_id", "__sid"))
    pairs = (
        bounded_self_pairs(assigned, ["centroid"], "__sid",
                           max_cluster_rows, carry=("c_v", "c_n"))
        .filter(_cos("c_{}_a", "c_{}_b") >= threshold)
        .select(F.col("id_a"), F.col("id_b")))
    kept = dedup_by_groups(df, id_col, pairs)
    cache.release()  # duplicate_groups checkpointed the pairs
    return kept


def dedup_spans(df: DataFrame, id_col: str, text_col: str,
                span_width: int = 4, min_docs: int = 2) -> DataFrame:
    """Corpus-global span (line) deduplication, CCNet/Dolma-style: drop
    every ``span_width``-word span that appears in ``min_docs`` or more
    DISTINCT documents, and reassemble each document from its surviving
    spans in original order. Documents whose every span is boilerplate
    disappear entirely.

    Returns (id_col, text_col, n_spans_kept, n_spans_total).

    Scale design: spans explode map-side off the scan; the document
    frequency is a groupBy(span) with a map-side partial count, so the
    shuffle carries (span, partial_df) not rows. The kill set and the span
    stream are both hashed by span, so the anti-join co-partitions with the
    count — one shuffle, reused. Reassembly shuffles (id, span) pairs once
    more; at 100 TB each shuffle is O(total spans), the minimum any global
    line-dedup must pay. No UDFs, no driver-side state.
    """
    from .quality import word_spans

    spans = (df.select(
        F.col(id_col),
        F.posexplode(word_spans(F.col(text_col), span_width))
        .alias("__idx", "__span")))
    kill = (spans.groupBy("__span")
            .agg(F.count_distinct(F.col(id_col)).alias("__df"))
            .filter(F.col("__df") >= min_docs)
            .select("__span").withColumn("__dup", F.lit(True)))
    # LEFT join (not anti) so kept/total both come out of ONE groupBy —
    # the explode is evaluated twice (kill aggregate + this probe), which
    # is the minimum without caching; a third totals-only pass would be a
    # full extra corpus scan at scale
    marked = spans.join(kill, "__span", "left")
    kept_structs = F.filter(
        F.array_sort(F.collect_list(
            F.struct(F.col("__idx"), F.col("__span"), F.col("__dup")))),
        lambda s: s["__dup"].isNull())
    return (marked.groupBy(id_col)
            .agg(F.array_join(F.transform(kept_structs,
                                          lambda s: s["__span"]), " ")
                 .alias(text_col),
                 F.size(kept_structs).cast("long").alias("n_spans_kept"),
                 F.count(F.lit(1)).alias("n_spans_total"))
            .filter(F.col("n_spans_kept") > 0))


def exact_substring_dedup(df: DataFrame, id_col: str, text_col: str,
                          window: int = 8, mask: int = 16,
                          min_dup_len: int = 20,
                          min_docs: int = 2) -> DataFrame:
    """Corpus-global exact-substring deduplication via content-defined
    chunking — the alignment-robust char-level complement to
    :func:`dedup_spans` (Lee et al., *Deduplicating Training Data Makes
    Language Models Better*, ACL 2022, approximated without the suffix
    array).

    Why content-defined: a duplicated passage usually sits at DIFFERENT
    offsets in each document, so fixed-position blocks (dedup_spans'
    word windows) never line up across copies. Here a chunk boundary is
    declared wherever the md5 of the trailing ``window`` chars hits
    ``0 mod mask`` — a purely LOCAL decision, so identical passages chunk
    identically wherever they start (away from the first ``window-1``
    chars of the copy). Expected chunk length is ~``mask`` chars.

    A chunk participates in deduplication only if it is at least
    ``min_dup_len`` chars (shared SHORT strings are normal language, not
    plagiarism); among the ≥``min_docs``-document duplicates the FIRST
    occurrence (smallest ``(id, chunk_idx)``) is kept and the rest are
    cut, then each document is reassembled from its surviving chunks in
    order — exactly the reference algorithm's keep-one semantics.

    Returns ``(id_col, text_col, n_chunks_kept, n_chunks_total)``;
    documents whose every chunk was cut disappear.

    Scale shape (100 TB): the hash-per-char-position boundary test runs
    on an EXPLODED position column so the md5 is whole-stage-codegen'd
    (the same bulk shape minhash_sigs uses — an in-row higher-order
    lambda would interpret the hash per element, measured ~20× slower);
    the explode never materializes (scan → explode → hash → filter is
    one codegen stage) and only the ~1/mask boundary HITS shuffle back
    to their document. The dedup itself is one window shuffle keyed on
    chunk content (row_number over (id, idx) — keep rank 1) and one
    reassembly shuffle keyed on id — the dedup_spans floor plus the
    boundary-position aggregation. No UDFs, no driver state.
    """
    t = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    norm = df.select(F.col(id_col), t.alias("__t"),
                     F.length(t).alias("__n"))
    # boundary AFTER position i when md5(t[i-window+1 .. i]) % mask == 0
    # (positions window..len-1; never split at the very end). Guard the
    # short-doc case: F.sequence(a, b) with b < a counts DOWN.
    pos = (norm.filter(F.col("__n") - 1 >= window)
           .select(F.col(id_col),
                   F.explode(F.sequence(F.lit(window), F.col("__n") - 1))
                   .alias("__i"),
                   F.col("__t"))
           .filter(F.conv(F.substring(F.md5(
               F.col("__t").substr(F.col("__i") - window + 1,
                                   F.lit(window))), 1, 4), 16, 10)
               .cast("int") % mask == 0)
           .groupBy(id_col)
           .agg(F.array_sort(F.collect_list("__i")).alias("__bpos")))
    withb = norm.join(pos, id_col, "left").withColumn(
        "__bpos", F.coalesce(F.col("__bpos"),
                             F.array().cast("array<int>")))
    bounds = F.concat(F.array(F.lit(1)),
                      F.transform(F.col("__bpos"), lambda i: i + 1),
                      F.array(F.col("__n") + 1))
    nb = F.size(bounds)
    chunks = F.zip_with(
        F.slice(bounds, 1, nb - 1), F.slice(bounds, 2, nb - 1),
        lambda a, b: F.col("__t").substr(a, b - a))
    ex = (withb.select(F.col(id_col), F.posexplode(chunks)
                       .alias("__idx", "__chunk"))
          .filter(F.length("__chunk") > 0))
    # Dup-marking must NOT window over chunk content: a ubiquitous
    # boilerplate chunk (license header, nav bar) would put every
    # occurrence into ONE window task and collect_set(id) would
    # materialize the full doc set PER ROW — O(N²) work / O(N) memory per
    # row in that task at 100 TB. Instead aggregate once per chunk
    # (map-side-combinable: count_distinct partials on (chunk, id),
    # min(struct) is a plain monoid — the dedup_spans shape) and hash-join
    # the single summary row back; the hot chunk streams through the join
    # probe and AQE skew-split applies.
    dup_chunks = (ex.filter(F.length("__chunk") >= min_dup_len)
                  .groupBy("__chunk")
                  .agg(F.count_distinct(F.col(id_col)).alias("__nd"),
                       F.min(F.struct(F.col(id_col), F.col("__idx")))
                       .alias("__keep"))
                  .filter(F.col("__nd") >= min_docs)
                  .select("__chunk", "__keep"))
    marked = (ex.join(dup_chunks, "__chunk", "left")
              .withColumn(
                  "__dup",
                  F.col("__keep").isNotNull()
                  & ~((F.col(id_col) == F.col("__keep").getField(id_col))
                      & (F.col("__idx") == F.col("__keep").getField("__idx"))))
              .drop("__keep"))
    kept_structs = F.filter(
        F.array_sort(F.collect_list(
            F.struct(F.col("__idx"), F.col("__chunk"), F.col("__dup")))),
        lambda s: ~s["__dup"])
    return (marked.groupBy(id_col)
            .agg(F.array_join(F.transform(kept_structs,
                                          lambda s: s["__chunk"]), "")
                 .alias(text_col),
                 F.size(kept_structs).cast("long").alias("n_chunks_kept"),
                 F.count(F.lit(1)).alias("n_chunks_total"))
            .filter(F.col("n_chunks_kept") > 0))


def containment_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.9,
                            ngram: int = 5,
                            max_prefix_df: int | None = None) -> DataFrame:
    """Asymmetric containment near-dup pairs:
    ``|S_a ∩ S_b| / min(|S_a|, |S_b|) >= threshold`` over the docs'
    distinct character ``ngram`` shingle sets — catches a document
    embedded inside a longer one (quotes, re-posts wrapped in
    boilerplate), which symmetric Jaccard misses because the union is
    dominated by the longer doc. Returns (id_a, id_b, containment) with
    id_a < id_b — EXACT: every qualifying pair is found.

    Candidates by prefix filtering (the PPJoin-family overlap-join
    technique): order each doc's shingles by ascending corpus document
    frequency (rarest first, shingle tie-break). A qualifying pair's
    SMALLER doc can miss at most ``m - ceil(t*m)`` of its own shingles
    from the other doc, so its first ``m - ceil(t*m) + 1`` rarest
    shingles must include a shared one; probing every doc's prefix
    against the full shingle postings therefore finds every qualifying
    pair via its smaller side (the larger side's probe is redundant but
    harmless).

    Scale shape: shingle document frequency is one map-side-combined
    groupBy; the candidate join keys on PREFIX shingles only — by
    construction the rarest of each doc, so posting lists are short
    exactly where the join multiplies; verification is an in-row
    ``array_intersect`` per candidate with an INTEGER threshold
    (``inter >= ceil(t*min - 1e-9)``, the same epsilon-guarded ceil as
    :func:`min_sig_matches`) so no float division sits in the predicate
    and an external SQL engine reproduces the pair set bit-for-bit.

    ``max_prefix_df`` is the hot-shingle guard for template-heavy corpora
    (the same recall-for-boundedness trade :func:`bounded_self_pairs`
    makes): prefix entries whose document frequency exceeds the cap are
    skipped, bounding the candidate fan-out to ``prefix_len × cap`` per
    document instead of quadratic in the df of boilerplate shingles.
    Pairs whose SMALLER doc's every prefix shingle is that common may be
    missed — i.e. recall degrades only on documents made entirely of
    corpus-wide boilerplate, which near-dup passes catch anyway. The
    default (None) keeps the join EXACT; the ×10 scale probe measured the
    exact path going quadratic on the synthetic template corpus (PLANS
    round 10), which is precisely when the cap is worth paying.
    """
    _check_threshold(threshold)

    # Distinct-text grain (the same md5-as-content-identity convention as
    # jaccard_dedup_pairs): shingling, prefix selection, the posting join
    # and the array verify all run once per DISTINCT text, and id pairs
    # are re-expanded from the (hash -> id) membership at the end. An
    # exact-dup-heavy corpus — the population that makes the posting join
    # explode — collapses: N byte-identical docs contribute one prefix
    # and one verify row, and their quadratic intra-group pairs are
    # emitted directly (containment is exactly 1.0 on identical non-empty
    # shingle sets) without touching the arrays. Shingle DOCUMENT
    # frequency is preserved exactly — each distinct text's shingles
    # count with weight __n (its exact-copy count) — so prefix ordering
    # and the max_prefix_df guard decide as in the per-doc shape. The
    # pair set is unchanged, except that exact-copy pairs now bypass
    # max_prefix_df: they come from the membership, not the posting join.
    cache = StageCache()
    members = cache.pin(df.select(F.col(id_col),
                                  F.md5(F.col(text_col)).alias("__ch"))
                        .filter(F.col("__ch").isNotNull()))
    grouped = (df.select(F.md5(F.col(text_col)).alias("__ch"),
                         F.col(text_col).alias("__t"))
               .filter(F.col("__ch").isNotNull())
               .groupBy("__ch")
               .agg(F.first("__t").alias("__t"),  # same hash => same bytes
                    F.count(F.lit(1)).alias("__n")))
    sh = cache.pin(grouped.select(
        "__ch", "__n", char_ngrams(F.col("__t"), ngram).alias("__p"))
        .filter(F.size("__p") > 0)
        .withColumn("__sz", F.size("__p")))
    ex = sh.select("__ch", "__n", "__sz", F.explode("__p").alias("t"))
    dfreq = ex.groupBy("t").agg(F.sum("__n").alias("__df"))
    w = Window.partitionBy("__ch").orderBy("__df", "t")
    req = F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)).cast("int")
    prefix = (ex.join(dfreq, "t")
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= F.col("__sz") - req + 1))
    if max_prefix_df is not None:
        prefix = prefix.filter(F.col("__df") <= max_prefix_df)
    prefix = prefix.select(F.col("__ch").alias("__pch"), "t")
    cands = (prefix.join(ex.select(F.col("__ch").alias("__cch"), "t"), "t")
             .filter(F.col("__pch") != F.col("__cch"))
             .select(F.least("__pch", "__cch").alias("__h1"),
                     F.greatest("__pch", "__cch").alias("__h2"))
             .distinct())

    def containment(sh1, sh2, m1, m2):
        mn = F.least(m1, m2)
        need = F.ceil(F.lit(threshold) * mn - F.lit(1e-9)).cast("int")

        def verdict(i):
            return F.round(i.cast("double") / mn.cast("double"), 6), i >= need
        return F.size(F.array_intersect(sh1, sh2)), verdict

    verified = _verify_hash_pairs(cands, sh, None, containment, "containment")
    cross = (verified
             .join(members.select(F.col("__ch").alias("__h1"),
                                  F.col(id_col).alias("__ida")), "__h1")
             .join(members.select(F.col("__ch").alias("__h2"),
                                  F.col(id_col).alias("__idb")), "__h2")
             .select(F.least("__ida", "__idb").alias("id_a"),
                     F.greatest("__ida", "__idb").alias("id_b"),
                     "containment"))
    dup_members = (sh.filter(F.col("__n") >= 2).select("__ch")
                   .join(members, "__ch")
                   .select("__ch", F.col(id_col).alias("__id")))
    intra = (dup_members
             .join(dup_members.select("__ch", F.col("__id").alias("__id2")),
                   "__ch")
             .filter(F.col("__id") < F.col("__id2"))
             .select(F.col("__id").alias("id_a"),
                     F.col("__id2").alias("id_b"),
                     F.lit(1.0).alias("containment")))
    return cache.attach(cross.unionByName(intra))


def lsh_plan(threshold: float, num_hashes: int = 16,
             fn_weight: float = 3.0) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) banding for a MinHash signature of
    ``num_hashes`` at a target Jaccard ``threshold`` — the S-curve planner
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4): a pair
    with similarity s becomes a candidate with probability
    ``1 - (1 - s^r)^b``, and the curve's waterline sits near
    ``(1/b)^(1/r)``.

    Scores every divisor pair r*b == num_hashes by the integrated error —
    false-positive mass below the threshold plus ``fn_weight`` × the
    false-negative mass above it — SUBJECT TO the hard recall floor
    ``P(candidate | s = threshold) >= 0.5``. For thresholds below even
    the flattest curve's waterline (t such that 1-(1-t)^num_hashes <
    0.5, i.e. roughly t < 0.7/num_hashes) no banding clears the floor
    and the planner falls back to that flattest, max-recall banding
    (b = num_hashes, r = 1). The floor is the
    contract a dedup caller actually needs — a banding must not miss the
    majority of pairs sitting exactly at the bar — and the ``fn_weight=3``
    default leans the remaining choice toward recall, because a missed
    duplicate is permanent while a spurious candidate merely gets
    verified and rejected (an unweighted, unconstrained integral would
    pick steep curves like (2, 8) for t=0.8/n=16 with only 31% candidate
    probability AT the threshold; this planner's (4, 4) catches 88%
    there). Pure driver-side arithmetic.

    Returns (bands, rows_per_band); feed bands into
    :func:`minhash_candidate_pairs` / :class:`~hoodie_spark.streaming.incremental_dedup.IncrementalDeduper`.
    The library default (num_hashes=16, bands=4) is exactly this
    planner's answer for threshold 0.8.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best, best_err = None, None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if 1.0 - (1.0 - threshold ** r) ** b < 0.5:
            continue  # recall floor: must catch the majority at the bar
        # integrate the candidate probability curve on a fixed grid
        steps = 1000
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    if best is None:
        # thresholds below even the flattest curve's waterline (e.g.
        # t=0.03, n=16: b=16,r=1 gives P=0.39 < 0.5): no banding of this
        # signature can clear the floor. Return the flattest —
        # max-recall — banding rather than None (callers unpack a tuple).
        return (num_hashes, 1)
    return best
