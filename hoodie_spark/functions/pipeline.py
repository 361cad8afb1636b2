"""Training-data pipeline operators: PII redaction, deterministic sampling,
token-budget shard packing, corpus n-gram frequency.

Design notes for 100 TB:

* :func:`redact_pii` and :func:`deterministic_sample` are pure Column
  expressions — map-only, whole-stage-codegen, zero shuffles.
* :func:`pack_shards`, :func:`pack_sequences`, :func:`token_budget_select`
  and ``lm.perplexity_buckets`` need a GLOBAL running sum; the naive
  ``Window.orderBy`` with no partition key collapses to one task. They
  share one two-pass distributed prefix sum, :func:`_running_total`:
  equal-width order-contiguous buckets on the first order column, a
  driver-side fold of one total per bucket into broadcast offsets, and a
  per-bucket window cumsum. The only driver data is one row per bucket. A
  NULL in the first order column bins with the smallest values, where the
  ascending window sorts it.
* :func:`top_ngrams` explodes shingles but aggregates with map-side partial
  counts; only the (k)-row result reaches the driver.

Hashing is md5-hex (stable across engines so the DuckDB oracle reproduces
results bit-for-bit); the sampling hash uses the first 4 hex nibbles as a
uniform 16-bit integer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frames import local_frame
from .dedup import StageCache
from .text import char_ngrams

__all__ = ["redact_pii", "pii_hits", "deterministic_sample", "sample_hash",
           "pack_shards", "top_ngrams", "filter_corpus", "word_ngrams",
           "contaminated_ids", "decontaminate", "stratified_sample",
           "corpus_pipeline", "chunk_documents", "unigram_logprob",
           "source_weighted_sample", "temperature_mix", "column_histogram",
           "epoch_shuffle", "token_budget_select", "priority_sample",
           "priority_hash", "pack_sequences", "weighted_priority",
           "weighted_priority_sample", "ngram_novelty",
           "decontaminate_near", "dsir_logweights", "dsir_select",
           "tfidf_terms", "tfidf_vectors", "corpus_report",
           "domain_mixture_weights", "leakage_safe_split"]


# Plain character-class regexes only, so Java regex and DuckDB's RE2 agree.
# Order matters: emails before bare domains, long digit runs before phones.
_PII_PATTERNS: list[tuple[str, str]] = [
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"),
    ("card", "[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ("phone", "[+][0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3}[ -][0-9]{4}"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"),
]


def redact_pii(col) -> Column:
    """Replace common PII shapes (email, card, SSN, phone, IPv4) with
    ``<TYPE>`` tags. Map-only; patterns applied in a fixed order so nested
    matches (card before phone) resolve deterministically."""
    out = F.col(col) if isinstance(col, str) else col
    for tag, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{tag.upper()}>")
    return out


def pii_hits(col) -> Column:
    """Total count of PII matches across all pattern types (pre-redaction).
    Useful as a filter signal: drop or quarantine documents with many hits."""
    c = F.col(col) if isinstance(col, str) else col
    # count on the progressively-redacted text so overlapping patterns are
    # not double-counted (mirrors redact_pii's application order)
    total = F.lit(0)
    cur = c
    for tag, pat in _PII_PATTERNS:
        total = total + F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, f"<{tag.upper()}>")
    return total


def sample_hash(col, salt: str = "") -> Column:
    """Uniform 16-bit hash of a key: ``int(md5(salt || key)[:4], 16)``.
    Engine-portable (the oracle reproduces it with nibble arithmetic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))),
                              1, 4), 16, 10).cast("long")


def deterministic_sample(df: DataFrame, key_col: str, keep: int,
                         out_of: int = 65536, salt: str = "") -> DataFrame:
    """Deterministic, repartition-stable sampling: keep rows whose key
    hashes below ``keep / out_of``. Unlike ``df.sample()`` the result is a
    pure function of the data — re-runs, retries and different partition
    layouts all select the same rows, and the same key always lands in the
    same split (so a doc never leaks from train to eval across runs).
    ``out_of`` must divide 65536 so the hash is exactly uniform."""
    if 65536 % out_of != 0:
        raise ValueError("out_of must divide 65536")
    return df.filter((sample_hash(F.col(key_col), salt) % out_of) < keep)


def priority_hash(col, salt: str = "") -> Column:
    """Deterministic sampling priority: the full 32-hex-char
    ``md5(salt || key)`` string. Hex strings compare identically in every
    engine, and 128 bits make ties impossible in practice (a tie-break on
    the key itself keeps the order total regardless)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(salt), c.cast("string")))


def priority_sample(df: DataFrame, key_col: str, k: int,
                    salt: str = "") -> DataFrame:
    """Deterministic fixed-SIZE uniform sample: the ``k`` rows whose keys
    have the smallest :func:`priority_hash` — the fixed-size counterpart
    of :func:`deterministic_sample` (which keeps a fixed RATE). Like it,
    the result is a pure function of the data: re-runs, retries and any
    partition layout select the same rows, and changing ``salt`` draws an
    independent sample. The hash-priority formulation is what makes the
    sample MAINTAINABLE over a stream (bottom-k by a uniform hash is a
    monoid — see :class:`~hoodie_spark.streaming.reservoir.ReservoirMaintainer`),
    where true reservoir sampling's RNG state is not reproducible.

    Scale shape: Spark executes orderBy+limit as TakeOrderedAndProject —
    each partition keeps its local bottom-k and the driver merges
    partition winners; no global sort, no single-task stage. Driver data
    is O(k), so keep ``k`` sample-sized (≤ ~1e6), not corpus-sized.
    """
    if k < 0:
        raise ValueError(f"k must be ≥ 0, got {k}")
    pr = priority_hash(key_col, salt)
    return (df.orderBy(pr.asc(), F.col(key_col).asc()).limit(k))


def weighted_priority(key_col, weight_col, salt: str = "") -> Column:
    """Deterministic weighted-sampling priority (Efraimidis–Spirakis via
    the exponential race): ``e = -ln(u) / w`` with ``u`` hash-uniform in
    (0, 1) from the first 15 hex chars of ``md5(salt || key)``. The k
    rows with the SMALLEST ``e`` are a weighted sample without
    replacement — P(row first) = w / Σw, exactly the race of exponential
    clocks with rates ``w``. 15 nibbles (60 bits) parse into a BIGINT in
    both engines, so ``u`` is engine-exact by construction like
    :func:`priority_hash`.

    Portability caveat on the ``ln``: the JVM spec only guarantees
    ``Math.log`` within 1 ulp of the true result, so bit-identity of
    ``-ln(u)/w`` with another engine's libm is an EMPIRICAL property
    (verified against DuckDB on this platform, r14 sweep), not a
    guaranteed one — a JVM or platform change could flip the ordering at
    the k-th boundary when two priorities differ by < 1 ulp. Consumers
    needing a guaranteed-portable draw should compare on the pre-ln
    integer ``u`` (uniform sampling) or accept the 1-ulp boundary."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    v = F.conv(F.substring(F.md5(F.concat(F.lit(salt),
                                          k.cast("string"))), 1, 15),
               16, 10).cast("long")
    u = (v + F.lit(1)) / F.lit(float(16 ** 15 + 1))
    return -F.log(u) / w.cast("double")


def weighted_priority_sample(df: DataFrame, key_col: str, weight_col: str,
                             k: int, salt: str = "") -> DataFrame:
    """Deterministic fixed-size WEIGHTED sample without replacement: the
    ``k`` rows with the smallest :func:`weighted_priority` — heavier rows
    proportionally likelier, re-runs/retries/partition layout all select
    the same rows, and ``salt`` draws an independent sample. Rows with
    NULL or non-positive weight can never be drawn and are excluded.
    Training-data use: sample a fixed-size dev set where probability
    should track tokens (or quality score), not document count.

    Like :func:`priority_sample`, bottom-k by a per-row deterministic
    score is a MONOID (bottom-k of a union = bottom-k of per-part
    bottom-k's), so the weighted sample is maintainable over a stream
    with the same reservoir fold. Scale shape: TakeOrderedAndProject —
    per-partition local bottom-k, O(k) driver merge, no global sort.
    """
    if k < 0:
        raise ValueError(f"k must be ≥ 0, got {k}")
    e = weighted_priority(key_col, weight_col, salt)
    return (df.filter(F.col(weight_col).cast("double") > 0)
            .orderBy(e.asc(), F.col(key_col).asc()).limit(k))


def _running_total(df: DataFrame, weight: Column, order_cols: list[str],
                   num_buckets: int) -> tuple[DataFrame, int | float]:
    """The budget family's one distributed prefix sum: ``df`` plus ``__w``
    (``weight``) and ``__before`` (the ``__w`` total of every row before
    this one in ``order_cols`` order; NULL weights count 0), and the grand
    total of ``__w``.

    No global single-task window: rows are binned into ``num_buckets``
    order-contiguous buckets by EQUAL-WIDTH ranges of the first order
    column (min/max from one aggregate, NOT sampled partitioning, so the
    binning is a pure function of the data), one total per bucket is
    collected and folded on the driver into broadcast offsets, and each
    bucket's cumsum runs as its own window. Three passes, and driver data
    of one row per bucket. Equal-width bins can skew with pathological key
    distributions; that costs balance in the window stage, never
    correctness.

    The first order column must be numeric. A NULL in it bins with the
    smallest values, because the ascending window sorts NULLs first. The
    window is an explicit ROWS frame, so rows tied on ``order_cols``
    accumulate one at a time, never as a peer group; end ``order_cols`` in
    a unique key for a bit-reproducible order across engines.
    """
    lead = order_cols[0]
    ltype = df.select(lead).schema[0].dataType
    if not isinstance(ltype, T.NumericType):
        raise ValueError(f"the first order column {lead!r} must be "
                         f"numeric, got {ltype.simpleString()}")
    lo, hi = df.agg(F.min(lead), F.max(lead)).first()
    if lo is None or num_buckets <= 1 or float(hi) <= float(lo):
        bucket = F.lit(0)
    else:
        x = F.coalesce(F.col(lead).cast("double"), F.lit(float(lo)))
        bucket = F.least(
            F.lit(num_buckets - 1),
            F.floor((x - F.lit(float(lo))) / F.lit(float(hi) - float(lo))
                    * F.lit(num_buckets)).cast("int"))
    staged = df.withColumn("__bkt", bucket).withColumn("__w", weight)
    offsets, total = [], 0
    for b, t in sorted(staged.groupBy("__bkt").agg(F.sum("__w")).collect()):
        offsets.append((b, total))
        total += t or 0
    sum_type = staged.select(F.sum("__w")).schema[0].dataType.simpleString()
    off = F.broadcast(local_frame(df.sparkSession, offsets,
                                  f"__bkt int, __off {sum_type}"))
    win = (Window.partitionBy("__bkt").orderBy(*order_cols)
           .rowsBetween(Window.unboundedPreceding, -1))
    before = F.col("__off") + F.coalesce(F.sum("__w").over(win), F.lit(0))
    return (staged.join(off, "__bkt").withColumn("__before", before)
            .drop("__bkt", "__off"), total)


def pack_shards(df: DataFrame, weight_col: str, budget: float,
                order_cols: list[str], num_buckets: int = 256) -> DataFrame:
    """Assign each row a ``shard_id`` so consecutive rows (in ``order_cols``
    order) fill shards of ~``budget`` total weight (e.g. pack documents into
    training shards of ~1M tokens).

    Semantics (deterministic, SQL-expressible): rows are globally ordered by
    ``order_cols``; ``shard_id = floor(prefix_sum_before_row / budget)`` —
    a shard may overshoot the budget by at most one row, and a row heavier
    than the budget gets a shard of its own. ``budget`` must be positive.

    The prefix sum is :func:`_running_total`: ``num_buckets``
    order-contiguous buckets on the first order column (numeric, required;
    a NULL there sorts first), never a global single-task window. Pass a
    unique key last in ``order_cols`` for bit-reproducible shard
    assignment across engines.
    """
    if not budget > 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (F.col(weight_col) if isinstance(weight_col, str)
         else weight_col).cast("double")
    ranked, _ = _running_total(df, w, order_cols, num_buckets)
    return (ranked.withColumn("shard_id", F.floor(
        F.col("__before") / F.lit(float(budget))))
        .drop("__w", "__before"))


def pack_sequences(df: DataFrame, weight_col, seq_len: int,
                   order_cols: list[str],
                   num_buckets: int = 256) -> DataFrame:
    """Pack ordered documents into fixed-length training sequences of
    ``seq_len`` tokens — the example-construction step between chunking
    and shard packing: documents concatenate in ``order_cols`` order and a
    document crossing a sequence boundary SPLITS across sequences.

    Returns one row per (document, sequence) piece: the input columns plus
    ``seq_id`` (0-based sequence index), ``piece_start`` (token offset of
    the piece WITHIN the document) and ``piece_len``. Rows with a
    non-positive weight are dropped (no tokens to place). Exact integer
    semantics, reproducible across engines: with o = total tokens before
    the doc and w its token count, the doc spans global tokens [o, o+w)
    and lands in sequences floor(o/L) .. floor((o+w-1)/L). ``seq_len``
    must be at least 1.

    Scale shape: the global offset is :func:`_running_total`
    (order-contiguous buckets on the first order column, numeric and
    required — never an `Exchange SinglePartition`); the piece fan-out is
    an in-row ``sequence()`` explode, ceil(w/L)+1 rows max per doc, no
    shuffle. Rows TIED on ``order_cols`` still get disjoint token ranges;
    which tied row comes first is engine-arbitrary, so pass a unique key
    (e.g. append the id column) when bit-reproducible assignment across
    engines matters.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be at least 1, got {seq_len}")
    w = (F.col(weight_col) if isinstance(weight_col, str)
         else weight_col).cast("long")
    # a non-positive weight becomes NULL (0 in the running total) and its
    # row is dropped after the prefix sum, so the min/max pass never
    # computes the weight
    ranked, _ = _running_total(df, F.when(w > 0, w), order_cols,
                               num_buckets)
    L = F.lit(int(seq_len))
    o, end = F.col("__before"), F.col("__before") + F.col("__w")
    pieced = (ranked.filter(F.col("__w").isNotNull())
              .withColumn("seq_id", F.explode(F.sequence(
                  F.floor(o / L).cast("long"),
                  F.floor((end - 1) / L).cast("long"))))
              .withColumn("__gs", F.greatest(o, F.col("seq_id") * L))
              .withColumn("__ge", F.least(end, (F.col("seq_id") + 1) * L))
              .withColumn("piece_start", (F.col("__gs") - o).cast("long"))
              .withColumn("piece_len",
                          (F.col("__ge") - F.col("__gs")).cast("long")))
    return pieced.drop("__w", "__before", "__gs", "__ge")


def token_budget_select(df: DataFrame, weight_col, budget: int,
                        order_cols: list[str],
                        num_buckets: int = 256) -> DataFrame:
    """Greedy data selection under a token budget — the step between
    quality scoring and training: rank the corpus by ``order_cols``
    (best first: ascending perplexity, descending quality score via a
    negated column, …) and keep rows while the running token total stays
    within ``budget``. A row is kept iff the cumulative ``weight_col``
    sum THROUGH the row (in rank order) is ≤ budget — the kept set never
    exceeds the budget and is a strict rank prefix, so two engines agree
    bit-for-bit when ``order_cols`` ends in a unique key.

    Returns the kept rows with ``cum_tokens`` (the running total through
    the row). Rows with NULL weight count 0 tokens.

    Scale shape (100 TB): the running total is :func:`_running_total`
    (order-contiguous buckets on the first order column, numeric and
    required; one broadcast offset row per bucket), never a global
    single-task window; the budget cut is then a map-only filter.
    """
    w = F.coalesce((F.col(weight_col) if isinstance(weight_col, str)
                    else weight_col).cast("long"), F.lit(0))
    ranked, _ = _running_total(df, w, order_cols, num_buckets)
    return (ranked.withColumn("cum_tokens",
                              (F.col("__before") + F.col("__w"))
                              .cast("long"))
            .filter(F.col("cum_tokens") <= F.lit(int(budget)))
            .drop("__w", "__before"))


def filter_corpus(df: DataFrame, text_col: str,
                  langs: list[str] | None = None,
                  min_quality: float | None = None,
                  min_tokens: int | None = None,
                  max_tokens: int | None = None,
                  max_pii_hits: int | None = None) -> DataFrame:
    """One-stop pre-training quality gate: language allowlist, quality
    floor, token-count band, PII ceiling — all pure Column predicates, so
    the whole gate is a single map-only filter the scanner can pipeline.
    Quality compares on the 6-decimal rounding (the same precision the
    oracle checks) so knife-edge floats can't flip across engines."""
    from .text import lang_id, quality_score, token_count

    t = F.col(text_col) if isinstance(text_col, str) else text_col
    cond = F.lit(True)
    if langs is not None:
        cond = cond & lang_id(t).isin(list(langs))
    if min_quality is not None:
        cond = cond & (F.round(quality_score(t), 6) >= float(min_quality))
    if min_tokens is not None:
        cond = cond & (token_count(t) >= int(min_tokens))
    if max_tokens is not None:
        cond = cond & (token_count(t) <= int(max_tokens))
    if max_pii_hits is not None:
        cond = cond & (pii_hits(t) <= int(max_pii_hits))
    return df.filter(cond)


def top_ngrams(df: DataFrame, text_col: str, n: int = 5, k: int = 20,
               ) -> DataFrame:
    """Corpus-wide most frequent character n-grams (distinct per document,
    i.e. document frequency). Explode is map-side; the count aggregation
    does a map-side partial so the shuffle carries (ngram, partial_count)
    pairs, not rows. Ties break lexicographically for determinism."""
    return (df.select(F.explode(char_ngrams(text_col, n)).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.desc("df"), F.asc("ngram")).limit(k))


def word_ngrams(text_col, n: int) -> Column:
    """All word-level n-grams of a text column after whitespace
    normalization + lowercasing, as an array of space-joined strings.
    Map-only Column expr; the token array is bound ONCE as a lambda
    variable — interpreted HOFs have no subexpression elimination, so
    referencing ``words(col)`` inside the per-gram lambda would re-run the
    regexp+split chain once per gram (measured ~50x per doc)."""
    from .quality import words

    def _grams(toks):
        count = F.size(toks) - F.lit(n - 1)
        # sequence(1, 0) DESCENDS in Spark, so docs shorter than n need an
        # explicit empty-array arm
        return F.when(count >= 1, F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(toks, i, n), " "))
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(words(text_col)), _grams), 1)


def ngram_novelty(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word ``n``-grams that occur in no other document — a cheap, fully
    distributed "how much new text does this doc add" signal used for
    novelty-weighted selection (the complement of boilerplate/template
    scores: a doc of corpus-unique grams is fresh content, a doc of
    corpus-common grams is recombined filler). Returns
    ``(id_col, n_grams, novel_frac)`` for every document with at least
    one gram; shorter documents carry no signal and are omitted.

    ``novel_frac`` is the mean over the doc's distinct grams of
    [gram's document frequency == 1], rounded to 6 — grams are distinct
    PER DOC before counting, so document frequency is a plain
    ``groupBy(gram).count()``.

    Scale shape (100 TB): explode distinct grams once (map-only);
    document frequency is one map-side-combinable count per gram — a
    billion-doc boilerplate gram ships one row per map task; the
    frequency joins back keyed on the gram (AQE skew-split applies to
    hot grams) and the per-doc fold is a second combinable aggregate.
    No window, no self-join, nothing driver-side.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n)))
        .alias("__g"))
    dfreq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    return (grams.join(dfreq, "__g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.round(F.avg((F.col("__df") == 1).cast("double")), 6)
                 .alias("novel_frac")))


def contaminated_ids(corpus: DataFrame, test_set: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n: int = 13) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    ``n``-gram with the evaluation set (the standard n-gram-overlap
    definition used for public LM training corpora; n=13 is the customary
    window for natural text).

    Scale shape: the TEST side is the small one — its distinct grams are
    broadcast — so the 100 TB corpus side is a map-only explode feeding a
    broadcast semi join: no corpus shuffle, and the explode never
    materializes (codegen pipelines it into the join probe). Returns the
    distinct contaminated ``id_col`` values."""
    test_grams = (test_set
                  .select(F.explode(word_ngrams(text_col, n)).alias("__g"))
                  .distinct())
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("__g"))
    return (corpus_grams
            .join(F.broadcast(test_grams), "__g", "left_semi")
            .select(id_col).distinct())


def decontaminate(corpus: DataFrame, test_set: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 13) -> DataFrame:
    """Corpus minus every document contaminated by the test set."""
    bad = contaminated_ids(corpus, test_set, text_col, id_col, n)
    return corpus.join(bad, id_col, "left_anti")


def decontaminate_near(corpus: DataFrame, test_set: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       threshold: float = 0.8, num_hashes: int = 16,
                       bands: int = 4, ngram: int = 5) -> DataFrame:
    """Near-duplicate decontamination: drop every corpus document whose
    exact character-``ngram`` Jaccard against ANY test-set document is
    ≥ ``threshold`` — the fuzzy complement to :func:`decontaminate`
    (exact word-n-gram overlap misses paraphrase-level rewrites of a
    benchmark item; shingle Jaccard catches them).

    Contract: candidates come from MinHash-LSH banding (same signature
    scheme and band math as the self-dedup family), then exact Jaccard
    verification — identical semantics to ``jaccard_dedup_pairs`` but
    CROSS-corpus, so there is no self-join anywhere.

    Scale shape (100 TB corpus, bounded eval set): the test-set side is
    small by contract — its banded signatures AND shingle sets broadcast;
    the corpus side is one map pass (signature + band keys) feeding a
    broadcast join, and per corpus row the candidate fan-out is bounded
    by the eval docs sharing a band. Verification joins the candidate
    list back to corpus shingles (one shuffle keyed on the corpus id)
    and the final drop is a left-anti join on the contaminated-id set.
    """
    from .dedup import band_keys, band_rows, minhash_sigs

    def _bands(df, alias):
        sig = minhash_sigs(df, id_col, text_col, num_hashes, ngram)
        return band_rows(sig, [F.col(id_col).alias(alias)],
                         band_keys("minhash", bands, num_hashes // bands))

    # consumed by the verify join AND the semi-join below; both read the
    # distinct's one exchange (a ReusedExchange), so the corpus signature
    # pass behind it runs once without a persist
    cand = (_bands(corpus, "__cid")
            .join(F.broadcast(_bands(test_set, "__eid")), ["band", "bh"])
            .select("__cid", "__eid").distinct())
    # shingle the VERIFY side only for candidate corpus docs: without the
    # semi-join the char_ngrams projection sits below the candidate join
    # and evaluates for every corpus row — a second full shingle pass over
    # the corpus to serve a candidate set bounded by the contamination
    # rate. The semi-join filters first (candidate ids broadcast), so the
    # verify pass shingles O(candidates) docs, not O(corpus).
    csh = (corpus.join(cand.select(F.col("__cid").alias(id_col)).distinct(),
                       id_col, "left_semi")
           .select(F.col(id_col).alias("__cid"),
                   char_ngrams(F.col(text_col), ngram).alias("__csh")))
    esh = test_set.select(F.col(id_col).alias("__eid"),
                          char_ngrams(F.col(text_col), ngram)
                          .alias("__esh"))
    inter = F.size(F.array_intersect("__csh", "__esh")).cast("double")
    union = F.size(F.array_union("__csh", "__esh")).cast("double")
    bad = (cand.join(csh, "__cid").join(F.broadcast(esh), "__eid")
           .filter(inter / union >= threshold)
           .select(F.col("__cid").alias(id_col)).distinct())
    return corpus.join(bad, id_col, "left_anti")


def stratified_sample(df: DataFrame, group_col: str, key_col: str,
                      per_group: int) -> DataFrame:
    """Exact per-stratum quota sampling (training-data mixing): keep at most
    ``per_group`` rows from each ``group_col`` value, selected by md5-hash
    order of ``key_col`` — deterministic, engine-reproducible, and unbiased
    for synthetic-id keys. One shuffle keyed by the stratum; Spark's
    WindowGroupLimit pushes the rank cutoff map-side, so each partition
    forwards at most ``per_group`` rows per stratum into the shuffle."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= per_group).drop("__rn"))


def epoch_shuffle(df: DataFrame, id_col: str, num_shards: int,
                  seed: int = 0, epoch: int = 0) -> DataFrame:
    """Deterministic training-order assignment: a seeded pseudo-random
    global permutation of the corpus, materialized as ``(shard,
    position)`` so a training job can stream shard files in position
    order and every worker sees the same order on every re-run.

    The order key is ``md5(seed:epoch:id)`` — a pure function of the row,
    so retries, re-runs and different partition layouts all produce the
    identical permutation, and bumping ``epoch`` yields a fresh
    independent permutation without rewriting the corpus. The shard is
    the key's top 16 bits mod ``num_shards`` (engine-portable: the oracle
    reproduces it with nibble arithmetic, like :func:`sample_hash`).

    Scale: one hash shuffle on ``shard`` plus a per-shard sort — the
    floor for any global permutation. No global sort, no
    Exchange SinglePartition; size ``num_shards`` well above the executor
    count and each sort stays partition-local. Spark's WindowGroupLimit
    does not apply (every row is kept), so the cost is exactly one
    shuffle + sort of (row, 32 B key).

    Reference parity: the reference delegates training-order shuffling to
    its export layer; this is the engine-side equivalent of a seeded
    shuffle + shard writer.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    okey = F.md5(F.concat_ws(
        ":", F.lit(str(int(seed))), F.lit(str(int(epoch))),
        F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(okey, 1, 4), 16, 10).cast("int")
             % F.lit(int(num_shards))).cast("int")
    w = Window.partitionBy("__shard").orderBy(F.col("__okey"),
                                              F.col(id_col))
    return (df.withColumn("__okey", okey).withColumn("__shard", shard)
            .withColumn("__pos", F.row_number().over(w))
            .withColumnRenamed("__shard", "shard")
            .withColumnRenamed("__pos", "position")
            .drop("__okey"))


def source_weighted_sample(df: DataFrame, source_col: str, key_col: str,
                           rates: dict[str, float],
                           default_rate: float = 1.0,
                           salt: str = "") -> DataFrame:
    """Training-data mixing: keep a per-source fraction of documents
    (e.g. downweight web crawl, keep all books), deterministically — the
    same (salt, key) always decides the same way, so re-runs, retries and
    repartitions select identical rows and mixture weights are exact in
    expectation. Rates quantize to 1/65536 steps (floor), mirroring
    :func:`deterministic_sample`'s 16-bit hash.

    Map-only: the bounded rates dict unrolls into a when-chain, the
    filter fuses into the scan."""
    thr = F.lit(int(default_rate * 65536))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(source_col) == s,
                     F.lit(int(r * 65536))).otherwise(thr)
    return df.filter(sample_hash(F.col(key_col), salt) < thr)


def temperature_mix(df: DataFrame, source_col: str, key_col: str,
                    alpha: float = 0.5, salt: str = "") -> DataFrame:
    """Temperature-scaled source mixing (the GPT-3 / PaLM / mT5 recipe):
    resample so source ``i``'s share is proportional to ``n_i ** alpha``
    instead of its raw count — ``alpha < 1`` flattens the mixture toward
    uniform, ``alpha > 1`` sharpens it toward the head, both without ever
    upsampling. Realized purely by deterministic downsampling: the
    max-rate source (smallest when flattening, largest when sharpening)
    keeps everything and source ``i`` keeps rate
    ``(n_ref / n_i) ** (1 - alpha)``, so the expected output counts are
    proportional to ``n_i ** alpha``.

    Deterministic and repartition-stable like
    :func:`source_weighted_sample` (same 16-bit md5 hash filter). Scale
    shape: one bounded source census (map-side-combined groupBy over the
    handful of source labels) + a map-only filter fused into the scan.

    For ``alpha = 0.5`` the per-source keep threshold is computed with
    exact integer arithmetic — ``isqrt(65536**2 * n_min // n_i)`` — so an
    external SQL engine reproduces the selection bit-for-bit; other alphas
    go through libm ``pow`` (stable within an engine, last-ulp across).

    Rows whose source is NULL are dropped: there is no source count to
    derive a keep rate from, and a mixture row without provenance has no
    place in a temperature-scaled mix.
    """
    import math

    counts = {r[0]: r[1]
              for r in df.groupBy(source_col).count().collect()}
    # NULL-source rows have no count to attribute a rate to: they are
    # always dropped (the when-chain's null comparison falls through to
    # the base threshold 0), and they must not poison the census sort
    has_null = counts.pop(None, 0)
    if not counts:
        return (df.filter(F.col(source_col).isNotNull())
                if has_null else df)
    # keep rate ~ n_i^(alpha-1), normalized so the max-rate source keeps
    # everything: for alpha < 1 that is the SMALLEST source (flattening
    # never upsamples), for alpha > 1 the LARGEST (sharpening downweights
    # the tail). alpha == 1 is the identity mix.
    n_ref = min(counts.values()) if alpha <= 1.0 else max(counts.values())
    thr = F.lit(0)
    for s, n in sorted(counts.items()):
        if alpha == 0.5:
            t = math.isqrt((65536 * 65536 * n_ref) // n)
        else:
            t = int(65536 * (n_ref / n) ** (1.0 - alpha))
        thr = F.when(F.col(source_col) == s, F.lit(t)).otherwise(thr)
    return df.filter(sample_hash(F.col(key_col), salt) < thr)


def column_histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equal-width histogram of a numeric column — the distribution
    diagnostic run before choosing mixing quotas, length cutoffs or
    curriculum buckets. Returns one row per non-empty bucket:
    ``(bucket, lo, hi, n)`` with ``lo``/``hi`` the bucket's value bounds.

    Two passes, both trivially parallel: an exact min/max aggregate
    (map-side combined, two numbers to the driver) and a map-only bucket
    assignment feeding a ``bins``-bounded groupBy. The bucket expression
    ``least(floor((x - min) * bins / (max - min)), bins - 1)`` uses one
    fixed double-op order, so any IEEE engine reproduces it exactly; a
    constant column collapses into a single bucket 0.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    lo_hi = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
    lo, hi = lo_hi[0], lo_hi[1]
    if lo is None:
        return local_frame(
            df.sparkSession, [], "bucket int, lo double, hi double, n long")
    span = float(hi) - float(lo)
    x = F.col(col).cast("double")
    if span == 0.0:
        bucket = F.lit(0)
    else:
        bucket = F.least(
            F.floor((x - F.lit(float(lo))) * F.lit(float(bins)) /
                    F.lit(span)),
            F.lit(bins - 1)).cast("int")
    width = span / bins if span else 0.0
    return (df.where(x.isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select("bucket",
                    (F.lit(float(lo)) + F.col("bucket") * F.lit(width))
                    .alias("lo"),
                    (F.lit(float(lo)) + (F.col("bucket") + 1) *
                     F.lit(width)).alias("hi"),
                    "n"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 64, overlap: int = 8) -> DataFrame:
    """Split documents into sliding windows of ``chunk_tokens`` words with
    ``overlap`` words of context between consecutive chunks — the standard
    training-prep step before packing sequences. Returns one row per chunk:
    ``(id_col, chunk_id, chunk_text, n_tokens)``, chunk_id 0-based in
    document order; a document shorter than one chunk yields one chunk.

    Scale: pure Column exprs — the chunk list builds in-row off the scan
    and posexplode pipelines into downstream operators with no shuffle;
    output row count is O(tokens / stride), never quadratic."""
    from .quality import words

    if overlap < 0:
        # a negative overlap means stride > chunk_tokens: tokens between
        # consecutive chunks would silently appear in NO chunk
        raise ValueError("overlap must be >= 0")
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    toks = words(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(stride))),
        F.lit(1).cast("bigint")).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ")
            .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride).cast("long")
            .alias("n_tokens")))
    return (df.select(F.col(id_col),
                      F.posexplode(chunks).alias("chunk_id", "__c"))
            .select(F.col(id_col), "chunk_id", F.col("__c.chunk_text"),
                    F.col("__c.n_tokens")))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    vocab_size: int = 64) -> DataFrame:
    """CCNet-style unigram language-model quality signal: per document,
    the total add-one-smoothed log-probability of its tokens under the
    corpus's own top-``vocab_size`` unigram distribution —
    ``lp(tok) = ln((count+1)/(N+V))``, out-of-vocabulary tokens get
    ``ln(1/(N+V))``. Boilerplate and common prose score high (less
    negative per token); gibberish scores low. Returns
    ``(id_col, n_tokens, logprob)``.

    Engine-parity note: per-token lp is rounded to 6 decimals at the
    vocabulary (V values, not per token) and the per-doc sum runs in
    DECIMAL(18,6) — exact and order-independent, so Spark's partial
    aggregation and the oracle's grouped SUM cannot drift.

    Scale: exactly TWO passes over the tokenized corpus — one term-count
    aggregation that yields the total token count AND the vocabulary
    (map-side partial counts; the total is summed from the term counts,
    never a separate count() job), then the scoring pass — the same shape
    as :func:`tfidf_terms`; for a map-only scoring variant unroll the
    collected vocab into Column literals as :func:`tfidf_vectors` does."""
    from .quality import words

    toks = words(text_col)
    ex = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tc = (ex.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
          .persist())  # term-universe-sized: feeds total + vocab, tiny
    try:
        total = tc.agg(F.sum("c")).first()[0] or 0
        denom = float(total + vocab_size)
        vocab = (tc.orderBy(F.desc("c"), F.asc("term")).limit(vocab_size)
                 .select("term", F.round(
                     F.log((F.col("c") + F.lit(1.0)) / F.lit(denom)), 6)
                     .alias("__lp")))
        vocab = local_frame(  # sever the lineage from tc
            vocab.sparkSession, vocab.collect(), vocab.schema)
    finally:
        tc.unpersist()
    oov = F.round(F.log(F.lit(1.0) / F.lit(denom)), 6)
    return (ex.join(F.broadcast(vocab), "term", "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__lp"), oov).alias("__lp"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("__lp").cast("decimal(18,6)"))
                 .cast("double").alias("logprob")))


def _hashed_gram_buckets(text_col, buckets: int) -> "Column":
    """Hashed word unigram+bigram feature buckets for one document (the
    DSIR feature map): bucket = int(md5(gram)[:4], 16) mod ``buckets``.
    md5-derived so an independent SQL engine reproduces the buckets
    bit-for-bit (the same portable-hash plane trick the JL projection and
    hash_sample use); 4 hex nibbles = 16 bits >= any practical bucket
    count. Map-only Column expr."""
    if not 2 <= buckets <= 65536:
        # the 16-bit hash plane can address at most 65536 buckets; a
        # larger count would silently leave buckets forever empty
        raise ValueError(f"buckets must be in [2, 65536], got {buckets}")
    grams = F.concat(word_ngrams(text_col, 1), word_ngrams(text_col, 2))
    return F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 4), 16, 10)
                   .cast("int") % F.lit(buckets)))


def dsir_logweights(corpus: DataFrame, target: DataFrame, id_col: str,
                    text_col: str, buckets: int = 4096) -> DataFrame:
    """DSIR importance weights (Xie et al., *Data Selection for Language
    Models via Importance Resampling*, NeurIPS 2023): score each corpus
    document by how much more likely its hashed-n-gram bag is under the
    TARGET distribution than under the raw-corpus distribution —
    ``log w(doc) = sum_g [ln p_target(bucket(g)) - ln p_corpus(bucket(g))]``
    with add-one smoothing over the ``buckets`` feature space. Features
    are word unigrams+bigrams hashed into ``buckets`` (the paper's
    hashed bag-of-ngrams). Returns ``(id_col, n_grams, log_weight)`` for
    every corpus doc with at least one gram.

    Engine parity: per-bucket log-ratios are rounded to 6 decimals (one
    value per bucket, not per gram) and the per-doc sum runs in
    DECIMAL(18,6) — exact and fold-order-independent, the
    :func:`unigram_logprob` pattern.

    Scale: ONE aggregation pass over each side's grams, each producing
    at most ``buckets`` rows (map-side partial counts — the shuffle
    carries (bucket, partial) pairs); the log-ratio table is built
    driver-side from those bounded rows (<= 2*buckets, never corpus-
    scaled) and broadcast into a single map+agg scoring pass. No
    corpus-sized shuffle except the final groupBy(id) with partial
    aggregation. The exploded corpus grams are PINNED across the census
    and scoring passes (a :class:`~hoodie_spark.functions.dedup.StageCache`
    on the result), so the corpus is tokenized and hashed exactly ONCE —
    at 100 TB the tokenize+hash scan dominates both passes."""
    cache = StageCache()
    ex = cache.pin(corpus.select(F.col(id_col), F.explode(
        _hashed_gram_buckets(text_col, buckets)).alias("b")))
    tgt = {r["b"]: r["c"] for r in (
        target.select(F.explode(
            _hashed_gram_buckets(text_col, buckets)).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect())}
    # the corpus census materializes the persisted grams; scoring below
    # re-reads them from cache instead of re-running tokenize+hash
    raw = {r["b"]: r["c"] for r in (
        ex.groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect())}
    t_total, c_total = sum(tgt.values()), sum(raw.values())
    spark = corpus.sparkSession
    # log-ratio computed as a Spark expression over the bounded literal
    # counts (exact ints): F.round is HALF_UP and F.log is the same libm
    # every other rounded-log oracle row already hash-matches with
    cnt = local_frame(
        spark, [(b, tgt.get(b, 0), c) for b, c in sorted(raw.items())],
        "b int, tc long, cc long")
    lr = cnt.select(
        "b",
        F.round(F.log((F.col("tc") + F.lit(1.0))
                      / F.lit(float(t_total + buckets)))
                - F.log((F.col("cc") + F.lit(1.0))
                        / F.lit(float(c_total + buckets))), 6).alias("lr"))
    out = (ex.join(F.broadcast(lr), "b")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.col("lr").cast("decimal(18,6)"))
                .cast("double").alias("log_weight")))
    return cache.attach(out)


def dsir_select(corpus: DataFrame, target: DataFrame, id_col: str,
                text_col: str, k: int, buckets: int = 4096) -> DataFrame:
    """Deterministic DSIR selection: the ``k`` corpus docs with the
    highest importance weight (ties broken by id) — the top-k variant of
    the paper's Gumbel resampling, reproducible across runs and engines.
    The global top-k is a TakeOrderedAndProject (per-partition heaps +
    one k-row merge), never a full sort."""
    w = dsir_logweights(corpus, target, id_col, text_col, buckets)
    # carry the grams pin onto the frame the caller actually acts on
    return w._stage_cache.attach(
        w.orderBy(F.desc("log_weight"), F.asc(id_col)).limit(k))


def corpus_pipeline(corpus: DataFrame, test_set: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    group_col: str = "lang", per_group: int = 25,
                    decontaminate_n: int = 4,
                    shard_budget: float = 2000.0,
                    gopher_overrides: dict | None = None) -> DataFrame:
    """The end-to-end training-data recipe, as ONE composition of the
    individually-verified operators — what a real corpus user runs:

    1. Gopher shape/repetition quality gate (:func:`quality.gopher_filter`)
    2. exact content dedup, smallest id wins (:func:`dedup.exact_dedup`)
    3. benchmark decontamination against the held-out eval set
       (:func:`decontaminate`, word ``decontaminate_n``-gram overlap)
    4. per-``group_col`` quota mixing (:func:`stratified_sample`)
    5. token-budget shard packing (:func:`pack_shards`)

    Returns ``(id_col, group_col, n_tokens, shard_id)``. Every stage keeps
    its solo operator's 100 TB shape: the gate and token counting are
    map-only Column exprs, dedup is one content-hash shuffle, the test-set
    grams broadcast, the quota uses WindowGroupLimit map-side cutoffs, and
    shard packing is the distributed two-pass prefix sum — the composition
    adds no new shuffle beyond its parts. Also available on the ingest
    path as ``streaming.transform.CorpusPipelineTransformer``."""
    from .dedup import exact_dedup
    from .quality import gopher_filter
    from .text import token_count

    kept = gopher_filter(corpus, text_col, **(gopher_overrides or {}))
    kept = exact_dedup(kept, [text_col], id_col)
    # contamination is a PER-DOC decision (does this doc share a gram with
    # the eval set?) — independent of which other docs survive earlier
    # stages — so the gram explode runs off the RAW corpus scan instead of
    # re-evaluating the gate+dedup chain a second time (the Gopher HOF
    # metrics are the expensive part of this plan; measured 2x at sf0.1)
    bad = contaminated_ids(corpus, test_set, text_col, id_col,
                           n=decontaminate_n)
    kept = kept.join(bad, id_col, "left_anti")
    kept = stratified_sample(kept, group_col, id_col, per_group)
    # pack_shards makes three passes over its input (range bounds, bucket
    # totals, final window); persist the post-quota frame so the full
    # gate/dedup/decontaminate chain evaluates ONCE — bounded memory:
    # per_group x n_groups rows, whatever the corpus size.
    cache = StageCache()
    w = cache.pin(kept.select(
        F.col(id_col), F.col(group_col),
        token_count(text_col).cast("double").alias("n_tokens")))
    packed = pack_shards(w, "n_tokens", shard_budget, [id_col],
                         num_buckets=8)
    return cache.attach(packed.select(
        F.col(id_col), F.col(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"), "shard_id"))


def tfidf_terms(df: DataFrame, id_col: str, text_col: str,
                vocab_size: int = 32) -> DataFrame:
    """Corpus TF-IDF in exploded relational form: one row per
    (document, vocab term) with a non-zero weight.

    Vocabulary = the ``vocab_size`` highest-document-frequency tokens
    (ties break lexicographically); ``idf = ln((N+1)/(df+1)) + 1`` (smooth,
    sklearn-style); ``tf`` = term occurrences / document length. Weights
    are rounded to 6 decimals (ln differs in the last ulp across engines).

    Scale: the vocabulary pass is one map-side-partial groupBy over
    distinct (doc, token) pairs; the bounded vocab (rows = vocab_size) is
    collected and folded back as a broadcast join, so the weighting pass
    is the explode + one broadcast hash join — no corpus-sized shuffle.
    """
    from .quality import words
    toks = words(text_col)
    n_docs = df.count()
    ex = df.select(F.col(id_col), F.size(toks).alias("__len"),
                   F.explode(toks).alias("term"))
    vocab = (ex.select(id_col, "term").distinct()
             .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
             .orderBy(F.desc("df"), F.asc("term")).limit(vocab_size)
             .withColumn("idf", F.log((F.lit(float(n_docs + 1)))
                                      / (F.col("df") + F.lit(1.0)))
                         + F.lit(1.0)))
    return (ex.groupBy(id_col, "__len", "term")
            .agg(F.count(F.lit(1)).alias("__tc"))
            .join(F.broadcast(vocab), "term")
            .select(F.col(id_col), F.col("term"),
                    F.round((F.col("__tc") / F.col("__len"))
                            * F.col("idf"), 6).alias("tfidf")))


def tfidf_vectors(df: DataFrame, id_col: str, text_col: str,
                  vocab_size: int = 32) -> DataFrame:
    """Dense TF-IDF vectors (``array<double>`` in vocabulary order) —
    feeds the similarity operators (brute_force_topk / pq_topk /
    embedding_near_dup_pairs) so text similarity rides the same ANN
    machinery as embeddings. The vocab (with idf) is collected — bounded
    by vocab_size — and unrolled into per-term Column expressions: the
    whole vectorization is then ONE map stage over the corpus."""
    from .quality import words
    toks = words(text_col)
    n_docs = df.count()
    ex = df.select(F.col(id_col), F.explode(toks).alias("term"))
    vocab = (ex.distinct()
             .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
             .orderBy(F.desc("df"), F.asc("term")).limit(vocab_size)
             .collect())
    import math
    terms = [(r["term"], math.log((n_docs + 1) / (r["df"] + 1)) + 1.0)
             for r in vocab]
    safe_len = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    def _count_of(term):
        # single-arg lambda (a default arg would make PySpark pass the
        # element INDEX as the second parameter)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    comps = [
        (_count_of(t).cast("double") / safe_len * F.lit(idf)).alias(f"c{i}")
        for i, (t, idf) in enumerate(terms)]
    return df.select(F.col(id_col),
                     F.array(*[F.round(c, 6) for c in comps])
                     .alias("tfidf"))


def corpus_report(df: DataFrame, text_col: str,
                  group_col: str | None = None) -> DataFrame:
    """Data-card summary per ``group_col`` value (or one ``'all'`` row):
    ``(grp, n_docs, n_empty, distinct_texts, dup_docs, total_tokens,
    mean_tokens)`` — the per-source corpus statistics a training-data
    run publishes before mixing (doc counts, exact-duplicate mass,
    token budget).

    ``dup_docs`` counts documents whose whitespace-normalized text is
    byte-identical to at least one other document in the SAME group —
    the exact-dup mass the dedup stage would remove.

    Scale shape: ONE (group, text-hash) census with map-side partial
    counts (token count and emptiness ride the census — they are
    functions of the text, so min() per hash is exact), then a
    group-level fold of the census — output is bounded by
    groups × distinct texts, shuffles carry 48-byte census rows, and no
    second corpus scan.
    """
    # NULL text counts exactly like empty text: without the coalesce,
    # F.length(null)==0 is null, the when() falls through, and
    # F.size(F.split(null)) = -1 (legacy sizeOfNull) SUBTRACTS one token
    # per null doc, groups nulls under a null md5 (inflating dup_docs),
    # and never counts n_empty — also diverging from the SQL oracle.
    t = F.lower(F.trim(F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"\s+", " ")))
    grp = (F.coalesce(F.col(group_col).cast("string"), F.lit("null"))
           if group_col else F.lit("all"))
    nt = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, " ")))
    census = (df.select(grp.alias("grp"), F.md5(t).alias("__h"),
                        nt.alias("__nt"),
                        (F.length(t) == 0).alias("__e"))
              .groupBy("grp", "__h")
              .agg(F.count(F.lit(1)).alias("__c"),
                   F.min("__nt").alias("__nt"),
                   F.max("__e").alias("__e")))
    return (census.groupBy("grp")
            .agg(F.sum("__c").alias("n_docs"),
                 F.sum(F.when(F.col("__e"), F.col("__c"))
                       .otherwise(F.lit(0))).alias("n_empty"),
                 F.count(F.lit(1)).alias("distinct_texts"),
                 F.sum(F.when(F.col("__c") >= 2, F.col("__c"))
                       .otherwise(F.lit(0))).alias("dup_docs"),
                 F.sum(F.col("__c") * F.col("__nt"))
                 .alias("total_tokens"))
            .withColumn("mean_tokens",
                        F.round(F.col("total_tokens")
                                / F.col("n_docs"), 6)))


def domain_mixture_weights(df: DataFrame, domain_col: str, id_col: str,
                           text_col: str, lm=None, vocab_size: int = 64,
                           eta: float = 1.0) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al., *DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining*,
    NeurIPS 2023, simplified to its one-shot excess-loss step): weight
    each domain by its token-level bigram-LM negative log-likelihood —
    domains the reference model finds HARD (high excess NLL) get
    upweighted by ``exp(eta * excess)``, scaled by the domain's token
    share and renormalized. The full DoReMi alternates proxy-model
    training with these reweights; the inner reweighting step is exactly
    this computation, and one step over a fixed reference LM is the
    practical curation recipe (pair with
    :func:`~hoodie_spark.functions.pipeline.temperature_mix` /
    :func:`source_weighted_sample` to realize the weights).

    Returns one row per domain: ``(domain_col, n_docs, n_tokens, nll,
    weight)`` with ``sum(weight) ≈ 1`` (each weight rounded to 6).

    Engine-parity discipline: per-document logprob comes from
    :func:`~hoodie_spark.functions.lm.bigram_perplexity` (already
    DECIMAL-exact); domain sums re-enter DECIMAL(28,6) (the per-doc
    double is a 6-decimal rational, so the cast recovers it exactly);
    every nonlinearity (exp) applies to a round-6 double and is itself
    rounded to 6 — an independent SQL engine reproduces the weights
    bit-for-bit.

    Scale shape (100 TB): one scoring pass over the corpus (the
    bigram_perplexity shape: explode + broadcast joins + ONE aggregation)
    followed by a G-row domain fold — G is the handful of sources, so
    every post-scoring step is driver-trivial; the whole operator adds
    ONE map-side-combined groupBy over per-doc scores to the scoring
    cost. No UDFs, no per-row Python.
    """
    from .lm import bigram_perplexity

    scored = bigram_perplexity(df, id_col, text_col, lm=lm,
                               vocab_size=vocab_size)
    per_df = (df.select(F.col(id_col), F.col(domain_col))
              .join(scored, id_col)
              .groupBy(domain_col)
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("n_bigrams").alias("n_tokens"),
                   F.sum(F.col("logprob").cast("decimal(18,6)"))
                   .cast("decimal(28,6)").alias("__sum_lp"))
              .withColumn("nll",
                          F.round(-(F.col("__sum_lp").cast("double"))
                                  / F.col("n_tokens"), 6))
              .drop("__sum_lp"))
    # sever lineage at the G-row census (the house bounded-collect
    # pattern): the totals/denominator folds below would otherwise each
    # re-evaluate the per-domain aggregate — i.e. re-run the full corpus
    # scoring pass 3-4× through the lineage
    per = local_frame(df.sparkSession, per_df.collect(), per_df.schema)
    totals = per.agg(F.min("nll").alias("__mn"),
                     F.sum("n_tokens").alias("__tt"))
    raw = (per.crossJoin(F.broadcast(totals))
           .withColumn("__e", F.round(
               F.exp(F.lit(float(eta))
                     * F.round(F.col("nll") - F.col("__mn"), 6)), 6))
           .withColumn("__share", F.round(
               F.col("n_tokens") / F.col("__tt"), 6))
           .withColumn("__raw", F.round(F.col("__share") * F.col("__e"), 6))
           .drop("__mn", "__tt"))
    denom = raw.agg(F.sum(F.col("__raw").cast("decimal(18,6)"))
                    .cast("double").alias("__d"))
    return (raw.crossJoin(F.broadcast(denom))
            .withColumn("weight", F.round(F.col("__raw") / F.col("__d"), 6))
            .select(domain_col, "n_docs", "n_tokens", "nll", "weight"))


def leakage_safe_split(df: DataFrame, id_col: str, text_col: str,
                       splits: dict[str, float] | None = None,
                       threshold: float = 0.8, salt: str = "",
                       pairs: DataFrame | None = None) -> DataFrame:
    """Train/val/test assignment where near-duplicate documents ALWAYS
    land in the same split — the leakage control a benchmark-honest
    training pipeline needs: a plain per-document hash split puts a
    paraphrase of a training doc into eval, silently inflating scores.

    Mechanics: duplicate edges — exact text matches plus near-dup pairs
    gated by MinHash signature agreement ≥ ``threshold``
    (:func:`~hoodie_spark.functions.dedup.sig_near_pairs` — the SAME
    gate SplitMaintainer applies streaming, so batch and maintained
    assignments share one duplicate relation), or a caller-supplied
    ``pairs`` frame with id_a/id_b — resolve to connected components
    (:func:`~hoodie_spark.functions.components.duplicate_groups`); the
    whole component splits together by the 16-bit portable hash of its
    canonical representative (the component min), singletons by their
    own id. Deterministic, repartition-stable and engine-reproducible
    (the :func:`sample_hash` plane).

    ``splits`` maps name → fraction (default 90/5/5 train/val/test);
    fractions are realized as cumulative cuts on the 65536-grain hash so
    an independent SQL engine reproduces the assignment bit-for-bit.
    Returns the input columns plus ``split``.

    Scale shape (100 TB): pair generation is the established LSH shape
    (banded signatures carried through the hot-group-guarded self-join;
    verification is an in-row signature zip, never a join against full
    shingle sets — the exact-Jaccard verify spilled >36 GB of shuffle
    on a ×100 template-heavy probe, this shape runs it comfortably);
    components are the O(log² n)-round large-star/small-star fold
    (never a driver-side graph); the split itself is ONE left join
    against the (id, group) frame — bounded by the number of near-dup
    members, a small fraction of the corpus — plus a map-only hash. No
    UDFs.
    """
    from .components import duplicate_groups
    from .dedup import exact_text_pairs, sig_near_pairs

    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not splits or abs(sum(splits.values()) - 1.0) > 1e-6:
        raise ValueError("split fractions must sum to 1")
    if pairs is None:
        near = sig_near_pairs(df, id_col, text_col, threshold=threshold)
        # exact-text edges catch byte-identical docs too short to carry
        # a shingle signature (same two edge types as SplitMaintainer);
        # exact_text_pairs is the de-skewed groupBy-min shape — never a
        # window over the content hash
        pairs = near.unionByName(exact_text_pairs(df, id_col, text_col))
    groups = duplicate_groups(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("__sid"), F.col("group_id").alias("__gid"))
    keyed = (df.join(groups, df[id_col] == F.col("__sid"), "left")
             .withColumn("__key", F.coalesce(F.col("__gid"),
                                             F.col(id_col)))
             .drop("__sid", "__gid"))
    h = sample_hash(F.col("__key"), salt) % 65536
    names = list(splits)
    cum, cuts = 0.0, []
    for name in names[:-1]:
        cum += splits[name]
        cuts.append(int(round(cum * 65536)))
    expr = F.lit(names[-1])  # last split absorbs the rounding remainder
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(h < cut, F.lit(name)).otherwise(expr)
    return keyed.withColumn("split", expr).drop("__key")
