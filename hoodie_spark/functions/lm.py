"""Bigram language-model perplexity scoring (CCNet-style quality signal).

CCNet (Wenzek et al., *CCNet: Extracting High Quality Monolingual Datasets
from Web Crawl Data*, LREC 2020) ranks web documents by the perplexity of a
small LM trained on a trusted corpus and keeps the low-perplexity "head".
The reference engine has no LM stage — this is part of the
beyond-the-reference training-data family (SURVEY.md §7 step 11), sitting
one rung above :func:`~hoodie_spark.functions.pipeline.unigram_logprob`:
the model conditions on the previous token, so repetitive boilerplate and
shuffled-word gibberish separate even when their unigram bags are identical.

Model: tokens outside the top-``vocab_size`` unigrams collapse to a single
``<unk>`` symbol; the LM is the add-one-smoothed conditional

    p(w2 | w1) = (c(w1, w2) + 1) / (c(w1) + V + 1)

over the (V+1)-symbol alphabet, where ``c(w1)`` counts bigrams whose first
symbol is ``w1``. A document's score is the sum of ``ln p`` over its
bigrams and its perplexity ``exp(-logprob / n_bigrams)``.

Engine-parity discipline (the exact recipe unigram_logprob pins): each
distinct ``ln p`` is rounded to 6 decimals at the MODEL (≤ (V+1)^2 values,
never per token), and per-document sums run in DECIMAL(18,6) — exact and
order-independent, so Spark's partial aggregation and an independent SQL
engine's grouped SUM cannot drift; the final ``exp`` is applied to an
identical double in both engines and rounded to 6.

Scale shape (100 TB): the unigram census and the bigram census are both
map-side-combined aggregations whose OUTPUT is bounded (the term universe,
then ≤ (V+1)^2 mapped pairs) — the shuffle carries partial counts, not
rows. A model-sized model is broadcast for scoring — one explode + the
vocab-mapping joins + two model left-joins + one aggregation, no shuffle
on the model side (plan-pinned in tests); a model ABOVE
``_BROADCAST_MODEL_ROWS`` observed bigrams (big vocabulary × big corpus)
stays distributed/persisted and the scoring joins shuffle on the model
keys instead — the only shape that survives a model too big for one
executor. The production shape at 100 TB is CCNet's:
train on a small TRUSTED corpus (two passes over the small side), then
score the full corpus with the explicit ``lm=`` — exactly ONE pass over
the big data. The self-scored convenience path (``lm=None``) pays two
extra census passes over the same corpus — fine for curation runs, wasteful
if you already have a reference model. Everything is Column expressions —
no Python UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from .dedup import StageCache

__all__ = ["BigramLM", "train_bigram_lm", "bigram_perplexity",
           "excess_perplexity_select", "perplexity_buckets"]

UNK = "<unk>"

# the vocab rides as a broadcast table (one string row per symbol) and as
# a driver-held list on the BigramLM — ~MBs at this cap, far below any
# broadcast budget; the real model-size bound is pair_lp's ≤ (V+1)^2 rows
_MAX_VOCAB = 1 << 20

# a model with at most this many observed-bigram rows is collected to a
# driver-local relation and broadcast at scoring time (zero-exchange
# joins); above it — a 64k vocabulary over a large corpus can observe
# hundreds of millions of distinct bigrams — the model STAYS distributed
# and scoring joins shuffle on (w1, w2), the only shape that survives a
# model too big for one executor's memory
_BROADCAST_MODEL_ROWS = 1_000_000

# vocab-mapping shape cutover: at or below this the in-row isin literal
# (InSet) beats the per-pass broadcast-build cost of the join mapping
_LITERAL_VOCAB_MAX = 1024


@dataclass
class BigramLM:
    """A trained bigram LM: the vocabulary (top-V unigrams) and two
    bounded, broadcastable tables — ``pair_lp (w1, w2, lp)`` for observed
    bigrams and ``ctx_lp (w1, unseen_lp)`` for unseen continuations of a
    known context. ``oov_lp`` covers a context never seen at all
    (impossible when scoring the training corpus itself).

    A NON-broadcast model (the >1M-observed-bigrams path) holds its two
    tables persisted on the executors for the model's lifetime — call
    :meth:`unpersist` when done scoring to release that storage (a
    broadcast model holds nothing; unpersist is a no-op there)."""

    vocab: list[str]
    pair_lp: DataFrame
    ctx_lp: DataFrame
    oov_lp: float
    # True: model tables are driver-local and broadcast at scoring time.
    # False (> _BROADCAST_MODEL_ROWS observed bigrams): tables stay
    # distributed/persisted and scoring joins shuffle on the model keys.
    broadcast: bool = True
    # non-broadcast only: the persisted (w1, w2, cb, cw) census frame both
    # model tables derive from (they are projections of it, so this is the
    # frame actually holding executor storage)
    _census: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the persisted executor storage a non-broadcast model
        pins (no-op for broadcast models — their tables are driver-local
        relations with nothing persisted)."""
        if not self.broadcast and self._census is not None:
            try:
                self._census.unpersist()
            except Exception:
                pass


def _pairs(df: DataFrame, id_col: str | None, text_col: str,
           vocab: list[str]) -> DataFrame:
    """Exploded (id?, w1, w2) bigram stream with out-of-vocabulary tokens
    collapsed to <unk>. Documents with fewer than two tokens contribute
    nothing; ``id_col`` None (the census path) drops the carrier column
    before the shuffle.

    Hybrid vocab mapping, picked by vocabulary size (A/B-measured at
    sf0.1, V=64: literal 3.06 s vs join 4.43 s; the join's fixed
    broadcast-build cost × 2 joins × every census/scoring pass dominates
    small vocabularies, while a large literal is an interpreted
    vocab-sized IN per token AND an expression-tree blowup):

    * V ≤ 1024 — in-row ``isin`` against the vocab literal (compiles to
      an InSet hash probe; cheap at CCNet-small sizes);
    * V > 1024 — two broadcast left-joins against the V-row vocab table
      AFTER the explode, whole-stage-codegen'd hash probes with no
      per-expression literal — the 64k-vocabulary shape."""
    from .quality import words

    spark = df.sparkSession
    if 0 < len(vocab) <= _LITERAL_VOCAB_MAX:
        # map AFTER the explode, on flat columns: when/isin over an
        # exploded column compiles to a whole-stage-codegen'd InSet
        # probe, while the same mapping inside the array transform is an
        # interpreted per-element lambda — measured 2× on the scoring
        # pass at sf0.1 (V=64). Identical output: the mapping is
        # elementwise, so mapping the pair members equals pairing the
        # mapped array.
        toks = words(text_col)
        pair = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        carry = [F.col(id_col)] if id_col else []
        ex = df.select(*carry, F.explode(pair).alias("__p"))

        def m(c):
            return F.when(c.isin(*vocab), c).otherwise(F.lit(UNK))

        return ex.select(*([id_col] if id_col else []),
                         m(F.col("__p.w1")).alias("w1"),
                         m(F.col("__p.w2")).alias("w2"))
    toks = words(text_col)
    pair = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    carry = [F.col(id_col)] if id_col else []
    ex = df.select(*carry, F.explode(pair).alias("__p")) \
        .select(*([id_col] if id_col else []),
                F.col("__p.w1").alias("__r1"),
                F.col("__p.w2").alias("__r2"))
    v1 = F.broadcast(local_frame(spark, [(v,) for v in vocab], "__v1 string"))
    v2 = F.broadcast(local_frame(spark, [(v,) for v in vocab], "__v2 string"))
    return (ex.join(v1, ex["__r1"] == v1["__v1"], "left")
            .join(v2, ex["__r2"] == v2["__v2"], "left")
            .select(*([id_col] if id_col else []),
                    F.coalesce("__v1", F.lit(UNK)).alias("w1"),
                    F.coalesce("__v2", F.lit(UNK)).alias("w2")))


def train_bigram_lm(corpus: DataFrame, text_col: str,
                    vocab_size: int = 64,
                    broadcast_model_rows: int = _BROADCAST_MODEL_ROWS
                    ) -> BigramLM:
    """Train the smoothed bigram LM on ``corpus``.

    Two bounded aggregations — and exactly two corpus passes: the
    unigram census picks the top-``V`` vocabulary (desc count, asc term
    tie-break — deterministic), then ONE bigram-census action over
    <unk>-mapped pairs yields the joined (w1, w2, cb, cw) frame (at most
    (V+1)^2 rows) that both model tables project from. A model at or
    under ``broadcast_model_rows`` observed bigrams is collected
    (model-sized, never corpus-sized) and broadcast at scoring time; a
    larger one stays distributed (see ``BigramLM.broadcast``).
    """
    if not 2 <= vocab_size <= _MAX_VOCAB:
        raise ValueError(f"vocab_size must be in [2, {_MAX_VOCAB}],"
                         f" got {vocab_size}")
    from .quality import words

    spark = corpus.sparkSession
    uni = (corpus.select(F.explode(words(text_col)).alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    vocab = [r["term"] for r in
             uni.orderBy(F.desc("c"), F.asc("term")).limit(vocab_size)
             .collect()]
    denom_slots = float(vocab_size + 1)  # V in-vocab symbols + <unk>

    # ONE census action (r16): the bigram census joined with its per-
    # context totals — (w1, w2, cb, cw), model-sized — is persisted and
    # counted once; BOTH model tables (pair lp + unseen lp) are then
    # projections of it, computed by the same Catalyst round/log
    # expressions as before (bit-identical values), so training runs ONE
    # corpus-sized bigram pass instead of two (the old shape re-ran the
    # census for the unseen collect). This is NOT the r15-reverted
    # `pc.persist()`: that pin sat UNDER two further distributed
    # aggregations and a join (per-consumer cache stages cost ~1.8× the
    # census re-run it saved); here the persisted frame is the FINAL
    # census, read back exactly once by a driver collect (broadcast
    # models) or projected lazily (distributed models).
    pc = (_pairs(corpus, None, text_col, vocab)
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    ctx = pc.groupBy("w1").agg(F.sum("cb").alias("cw"))
    cen = pc.join(ctx, "w1")  # (w1, w2, cb, cw)
    lp_col = F.round(F.log((F.col("cb") + F.lit(1.0))
                           / (F.col("cw") + F.lit(denom_slots))), 6) \
        .alias("lp")
    unseen_col = F.round(F.log(F.lit(1.0)
                               / (F.col("cw") + F.lit(denom_slots))), 6) \
        .alias("unseen_lp")
    import math

    oov = round(math.log(1.0 / denom_slots), 6)
    # small model: sever lineage — collect to a driver-local relation so
    # the scoring plan embeds it and broadcasts, never re-running the
    # census. Large model (a big vocabulary over a big corpus can observe
    # >> millions of distinct bigrams): collecting would OOM the driver —
    # keep the census persisted and let scoring project/shuffle-join it.
    n_pairs = cen.persist().count()
    if n_pairs <= broadcast_model_rows:
        rows = cen.collect()
        cen.unpersist()
        local = local_frame(spark, rows, cen.schema)
        # lp/unseen evaluated by Spark expressions over the LocalRelation
        # (ConvertToLocalRelation folds them) — same engine arithmetic as
        # the distributed path, so values are bit-identical to computing
        # them before the collect. Context dedup happens in the driver
        # (cw is functionally determined by w1 — no arithmetic involved)
        # so the unseen table stays a plain LocalRelation projection, not
        # an Aggregate re-planned per scoring pass.
        pair_lp = local.select("w1", "w2", lp_col)
        ctx_rows = sorted({(r["w1"], r["cw"]) for r in rows})
        ctx_lp = local_frame(
            spark, ctx_rows, "w1 string, cw bigint").select("w1", unseen_col)
        return BigramLM(vocab=vocab, pair_lp=pair_lp, ctx_lp=ctx_lp,
                        oov_lp=oov, broadcast=True)
    return BigramLM(vocab=vocab, pair_lp=cen.select("w1", "w2", lp_col),
                    ctx_lp=cen.select("w1", "cw").distinct()
                    .select("w1", unseen_col),
                    oov_lp=oov, broadcast=False, _census=cen)


def bigram_perplexity(df: DataFrame, id_col: str, text_col: str,
                      lm: BigramLM | None = None,
                      vocab_size: int = 64) -> DataFrame:
    """Score each document under the bigram LM (trained on ``df`` itself
    when ``lm`` is None — the CCNet self-perplexity signal).

    Returns ``(id_col, n_bigrams, logprob, ppl)``; documents with fewer
    than two tokens (no bigrams) are dropped. ``ppl`` is
    ``round(exp(-logprob / n_bigrams), 6)`` — low = head (fluent under the
    corpus's own statistics), high = tail (gibberish / rare constructions).
    """
    if lm is None:
        lm = train_bigram_lm(df, text_col, vocab_size=vocab_size)
    pair_t = F.broadcast(lm.pair_lp) if lm.broadcast else lm.pair_lp
    ctx_t = F.broadcast(lm.ctx_lp) if lm.broadcast else lm.ctx_lp
    scored = (_pairs(df, id_col, text_col, lm.vocab)
              .join(pair_t, ["w1", "w2"], "left")
              .join(ctx_t, ["w1"], "left")
              .select(F.col(id_col),
                      F.coalesce(F.col("lp"), F.col("unseen_lp"),
                                 F.lit(lm.oov_lp)).alias("__lp")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                F.sum(F.col("__lp").cast("decimal(18,6)"))
                .cast("double").alias("logprob")))
    return agg.select(
        id_col, "n_bigrams", "logprob",
        F.round(F.exp(-F.col("logprob") / F.col("n_bigrams")), 6)
        .alias("ppl"))


def excess_perplexity_select(df: DataFrame, id_col: str, text_col: str,
                             ref: DataFrame, k: int,
                             vocab_size: int = 64) -> DataFrame:
    """RHO-style reducible-loss data selection (Mindermann et al., ICML
    2022, rendered with static bigram LMs): score every document under a
    REFERENCE LM trained on ``ref`` (the curated/high-quality corpus)
    and under the corpus's own self-LM, and keep the ``k`` docs with the
    largest ``excess = nll_self − nll_ref`` — documents the corpus's own
    statistics find hard but the clean reference finds easy: learnable,
    underrepresented quality rather than noise (noise is hard under BOTH
    models and cancels out; boilerplate is easy under both).

    Returns ``(id_col, n_bigrams, nll_self, nll_ref, excess)`` for the
    selected docs. All three NLLs are per-token and rounded to 6
    decimals at doc grain (on top of the model-grain rounding inside
    :func:`train_bigram_lm`), so an independent engine reproduces the
    selection bit-for-bit; ties on ``excess`` break by ascending id.

    Scale shape: two bounded LM trainings (vocab- and model-sized
    aggregates), then — when both models are broadcast-sized with
    literal-size vocabularies (the default) — ONE scoring pass over the
    corpus under both models at once (single bigram explode, four
    broadcast model joins, one aggregation), then top-k via
    TakeOrderedAndProject (per-partition top-k, O(k) driver merge — no
    global sort). Non-broadcast or >1024-vocab models fall back to two
    scoring passes (shuffling both models' scoring joins in one plan
    would double the shuffled width instead). Keep ``k``
    selection-sized. At the default vocab the LM tables are
    driver-local; nothing stays persisted on the executors.
    """
    ref_lm = train_bigram_lm(ref, text_col, vocab_size=vocab_size)
    self_lm = train_bigram_lm(df, text_col, vocab_size=vocab_size)
    if (self_lm.broadcast and ref_lm.broadcast
            and 0 < len(self_lm.vocab) <= _LITERAL_VOCAB_MAX
            and 0 < len(ref_lm.vocab) <= _LITERAL_VOCAB_MAX):
        # ONE corpus pass scoring under BOTH models: the raw bigram
        # explode (the corpus-sized cost) runs once, each pair maps
        # through both vocabularies in-row (codegen'd InSet) and joins
        # both broadcast model tables; one aggregation produces both
        # decimal log-prob sums. Bit-identical to the two-pass shape —
        # the per-pair lp coalesce and the order-independent DECIMAL sum
        # are unchanged, only the number of passes over the corpus drops
        # from two to one. (Non-broadcast or >literal-cap models keep the
        # two-pass shape: shuffling scoring joins for two models in one
        # plan would double the shuffled width instead.)
        from .quality import words

        toks = words(text_col)
        pair = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
        ex = df.select(F.col(id_col), F.explode(pair).alias("__p"))

        def m(c, vocab):
            return F.when(c.isin(*vocab), c).otherwise(F.lit(UNK))

        mapped = ex.select(
            F.col(id_col),
            m(F.col("__p.w1"), self_lm.vocab).alias("__s1"),
            m(F.col("__p.w2"), self_lm.vocab).alias("__s2"),
            m(F.col("__p.w1"), ref_lm.vocab).alias("__r1"),
            m(F.col("__p.w2"), ref_lm.vocab).alias("__r2"))
        sp = F.broadcast(self_lm.pair_lp.select(
            F.col("w1").alias("__s1"), F.col("w2").alias("__s2"),
            F.col("lp").alias("__lps")))
        sc = F.broadcast(self_lm.ctx_lp.select(
            F.col("w1").alias("__s1"),
            F.col("unseen_lp").alias("__us")))
        rp = F.broadcast(ref_lm.pair_lp.select(
            F.col("w1").alias("__r1"), F.col("w2").alias("__r2"),
            F.col("lp").alias("__lpr")))
        rc = F.broadcast(ref_lm.ctx_lp.select(
            F.col("w1").alias("__r1"),
            F.col("unseen_lp").alias("__ur")))
        agg = (mapped
               .join(sp, ["__s1", "__s2"], "left")
               .join(sc, ["__s1"], "left")
               .join(rp, ["__r1", "__r2"], "left")
               .join(rc, ["__r1"], "left")
               .select(F.col(id_col),
                       F.coalesce(F.col("__lps"), F.col("__us"),
                                  F.lit(self_lm.oov_lp)).alias("__l_s"),
                       F.coalesce(F.col("__lpr"), F.col("__ur"),
                                  F.lit(ref_lm.oov_lp)).alias("__l_r"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum(F.col("__l_s").cast("decimal(18,6)"))
                    .cast("double").alias("__lp_self"),
                    F.sum(F.col("__l_r").cast("decimal(18,6)"))
                    .cast("double").alias("__lp_ref")))
        s = agg
    else:
        s = (bigram_perplexity(df, id_col, text_col, lm=self_lm)
             .select(id_col, "n_bigrams",
                     F.col("logprob").alias("__lp_self")))
        r = (bigram_perplexity(df, id_col, text_col, lm=ref_lm)
             .select(id_col, F.col("logprob").alias("__lp_ref")))
        s = s.join(r, id_col)
    out = (s
           .withColumn("nll_self",
                       F.round(-F.col("__lp_self") / F.col("n_bigrams"),
                               6))
           .withColumn("nll_ref",
                       F.round(-F.col("__lp_ref") / F.col("n_bigrams"),
                               6))
           .withColumn("excess",
                       F.round(F.col("nll_self") - F.col("nll_ref"), 6))
           .drop("__lp_self", "__lp_ref"))
    return out.orderBy(F.desc("excess"), F.asc(id_col)).limit(k)


def perplexity_buckets(df: DataFrame, id_col: str, text_col: str,
                       n_buckets: int = 3,
                       lm: BigramLM | None = None,
                       vocab_size: int = 64,
                       num_bins: int = 256) -> DataFrame:
    """CCNet's head/middle/tail split: exact equal-population perplexity
    buckets — ``(id_col, ppl, bucket)`` with bucket 0 = head (most fluent
    under the LM) through ``n_buckets - 1`` = tail; ``n_buckets`` must be
    at least 1.

    ``bucket = (rank * n_buckets) DIV N`` over the global (ppl, id) order
    — exact integer arithmetic, so any engine reproduces it. The global
    rank is a running count from
    :func:`~hoodie_spark.functions.pipeline._running_total` over
    ``num_bins`` equal-width ppl bins, never a single-task window.
    Documents with no bigrams are dropped (bigram_perplexity's contract).
    """
    from .pipeline import _running_total

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be at least 1, got {n_buckets}")
    # pinned: the doc-grain scored frame (one row per document — model-
    # sized, never corpus-row-sized) feeds THREE actions below (min/max,
    # bin census, the caller's final action); without the pin each one
    # re-runs the whole explode + model-join scoring pass
    cache = StageCache()
    scored = cache.pin(bigram_perplexity(df, id_col, text_col, lm=lm,
                                         vocab_size=vocab_size))
    ranked, total = _running_total(scored, F.lit(1), ["ppl", id_col],
                                   num_bins)
    # an empty corpus has no rows to divide; 1 keeps the literal nonzero
    return cache.attach(ranked.select(id_col, "ppl", F.expr(
        f"CAST(__before * {int(n_buckets)} DIV {max(int(total), 1)}"
        " AS BIGINT)").alias("bucket")))
