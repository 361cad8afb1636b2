"""Keep-BEST dedup as maintained streaming state: the table holds exactly
one document per near-duplicate cluster — the best-scoring copy seen so
far — and an arriving BETTER copy REPLACES the stored winner.

:class:`~hoodie_spark.streaming.incremental_dedup.IncrementalDeduper`
freezes arrival order: the first-seen copy wins forever, even when a
later crawl fetches a cleaner extraction of the same page. The batch
operator (:func:`~hoodie_spark.functions.dedup.dedup_keep_best`) fixes
that for one corpus pass; this maintainer keeps the same guarantee over
a stream. Each batch:

* derives per-doc dedup features (content hash + MinHash band
  signatures) and the doc's cluster ROOT — min over (its in-batch
  component ids, any state roots its members matched) — the exact
  derivation :class:`~hoodie_spark.streaming.split_maintainer.SplitMaintainer`
  uses (exact edges via groupBy-min, never a hot-hash window; the
  in-batch self-join through the hot-group-guardable
  ``bounded_self_pairs``);
* compares the batch's best member per root (max ``score_col``, ties →
  smallest id) against the stored winner: strictly better (or equal
  score with a smaller id) → the table DELETEs the stored winner and
  UPSERTs the new one; otherwise every batch member of that root is
  dropped;
* registers ALL batch members' features (dropped copies still anchor
  future matches) and the replaced winners, then publishes the
  watermark atomically.

Exactness contract (oracle-verified, q:keep_best_incremental): the
table's content after any batch sequence is BIT-IDENTICAL to one batch
:func:`dedup_keep_best` pass over the union — in ANY arrival order,
root drift and late bridges included. Two mechanisms make that hold
where SplitMaintainer has to carry a caveat:

* winner lookups go through ALIAS roots — every state root any member
  matched, not just the min — so a batch id smaller than the stored
  root (root drift) or a doc bridging two resolved clusters still finds
  the stored winners, and every alias root gets a fresh POINTER row to
  the final winner (no lookup ever resolves to a deleted ghost);
* per-cluster selection (max score, ties → min id) is an associative
  fold: the merge of cluster argmaxes IS the merged cluster's argmax,
  so discovered same-cluster losers are deleted eagerly and the table
  converges to the batch answer instead of standing on a duplicate.

The only residue is connectivity no arriving doc ever witnesses (LSH
recall) — which bounds the batch operator identically.

Crash story: winner mutations are idempotent table ops (UPSERT the new
winner, DELETE the old id — both replay-safe), features/winners state
appends next, the watermark publishes last; a replayed batch finds its
own winner already stored at equal score and id and takes NO action.
The state has no table watermark (the maintainer writes the table
itself), so ``catch_up``/``rebuild`` do not apply; the generation store
and lock are maintainer.py's, and :meth:`compact_state` keeps reads
O(unique docs).

100 TB story: per batch — one feature pass over the batch, bucket-pruned
state joins (batch side broadcast-small), the bounded in-batch
self-join, the star fold over batch edges only, TWO map-side-combinable
winner aggregates, and appends. Winner lookups join the ≤clusters-sized
winners store on root and fold max-seq per MATCHED root only. Never a
corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..generation_store import bucket_of
from .maintainer import locked_fold
from .split_maintainer import ClusterRootState

__all__ = ["KeepBestDeduper"]


class KeepBestDeduper(ClusterRootState):
    """Maintain a table as the per-cluster best-scoring document set.

    Usage::

        kb = KeepBestDeduper(table, state_path, "doc_id", "text", "score")
        kb.process_batch(batch_df)   # upserts winners, deletes the beaten

    ``score_col`` must be a numeric column of every batch (NULL scores
    sort below every number). ``max_band_rows`` bounds the in-batch LSH
    self-join exactly like SplitMaintainer's knob (capped groups stay
    connected through pivot rows).
    """

    SUBS = ("content", "bands", "winners")
    KIND = "keep-best"

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 score_col: str, threshold: float = 0.8,
                 num_hashes: int = 16, bands: int = 4, ngram: int = 5,
                 n_buckets: int = 32, max_band_rows: int | None = None):
        self.id_col = id_col
        self.text_col = text_col
        self.score_col = score_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.n_buckets = n_buckets
        self.max_band_rows = max_band_rows
        super().__init__(table, state_path)
        self._seq: int = self._state().get("seq", 0)

    def _fields(self) -> dict:
        return {"seq": self._seq}

    def _winners_schema(self) -> str:
        id_t = self._resolve_id_type()
        return f"root {id_t}, wid {id_t}, wscore double, seq long"

    # ------------------------------------------------------------- folds
    @locked_fold
    def process_batch(self, df: DataFrame) -> dict:
        """Resolve a batch against state AND the table: upsert each
        cluster's new winner, delete the beaten stored winner, drop the
        rest. Returns ``{"upserted": n, "deleted": n, "dropped": n}``."""
        id_col, score = self.id_col, self.score_col
        rooted, matches = self._cluster(df)
        # every STATE root the component matched: winner lookups under
        # these ALIAS roots survive root drift (a batch id smaller than
        # the matched state root becomes the new, previously-unseen root)
        # and late bridges (members matching TWO resolved clusters)
        rooted = rooted.drop("__bridged").persist()
        matches = matches.persist()
        aliases = (matches.join(rooted.select(id_col, "__root"), id_col)
                   .select("__root", F.col("root").alias("__old"))
                   .distinct())
        s = F.coalesce(F.col(score).cast("double"), F.lit(float("-inf")))

        # batch best per root: max score, ties → smallest id (two
        # map-side-combinable aggregates — no window over the root)
        best_s = rooted.groupBy("__root").agg(F.max(s).alias("__bs"))
        tied = rooted.join(best_s, "__root").filter(s == F.col("__bs"))
        best_id = tied.groupBy("__root").agg(F.min(id_col).alias("__bid"))
        batch_best = (rooted.join(best_id, "__root")
                      .filter(F.col(id_col) == F.col("__bid"))
                      .drop("__bid"))

        # stored winner per cluster, looked up under EVERY alias root the
        # cluster is known by in state (its own new root + every matched
        # old root): latest (max seq) pointer per alias, then the best
        # stored across aliases — max wscore, ties → smallest wid. The
        # per-cluster stored winner is the cluster's argmax under the
        # same comparator, so merging argmaxes across aliases IS the
        # merged cluster's argmax (selection is associative) — which is
        # what makes the maintained table equal one batch dedup_keep_best
        # pass over the union in ANY arrival order, bridges included.
        winners = self.store.read("winners", self._winners_schema())
        alias_all = (aliases
                     .unionByName(rooted.select(
                         "__root", F.col("__root").alias("__old"))
                         .distinct())
                     .distinct())
        wlatest = (winners
                   .join(F.broadcast(alias_all
                                     .select(F.col("__old").alias("root"),
                                             "__root")), "root")
                   .groupBy("__root", "root")
                   .agg(F.max_by(F.struct("wid", "wscore"), "seq")
                        .alias("__w"))
                   .select("__root", F.col("root").alias("__alias"),
                           F.col("__w.wid").alias("__awid"),
                           F.col("__w.wscore").alias("__awscore"))
                   .persist())
        smax = wlatest.groupBy("__root").agg(F.max("__awscore")
                                             .alias("__ws"))
        stied = (wlatest.join(smax, "__root")
                 .filter(F.col("__awscore") == F.col("__ws")))
        stored = (stied.groupBy("__root")
                  .agg(F.min("__awid").alias("__wid"),
                       F.max("__awscore").alias("__wscore")))

        decide = (batch_best.join(stored, "__root", "left")
                  .withColumn("__bs2", s)
                  .withColumn(
                      "__replace",
                      F.col("__wid").isNull()
                      | (F.col("__bs2") > F.col("__wscore"))
                      | ((F.col("__bs2") == F.col("__wscore"))
                         & (F.col(id_col) < F.col("__wid")))).persist())

        # final winner per cluster = batch best if it replaces, else the
        # stored best; every OTHER latest alias winner is a discovered
        # same-cluster loser (root drift / late bridge) and leaves the
        # table NOW — eager convergence, not a standing duplicate
        fw = decide.select(
            "__root",
            F.when(F.col("__replace"), F.col(id_col))
            .otherwise(F.col("__wid")).alias("__fwid"),
            F.when(F.col("__replace"), F.col("__bs2"))
            .otherwise(F.col("__wscore")).alias("__fwscore"))
        beaten = (wlatest.join(fw, "__root")
                  .filter(F.col("__awid") != F.col("__fwid"))
                  .select(F.col("__awid").alias(id_col)).distinct())
        new_winners = decide.filter("__replace")
        to_upsert = new_winners.select(*df.columns)

        n_del = beaten.count()
        n_up = to_upsert.count()
        if n_del:
            self.table.delete(beaten)
        if n_up:
            self.table.upsert(to_upsert)

        # register ALL batch members' features under their root (dropped
        # copies still anchor future matches), then the replaced winners
        self._append_features(rooted)
        # winner POINTERS: every alias root of every touched cluster gets
        # a row naming the final winner, so future lookups via ANY of the
        # cluster's historical root names resolve to the live winner —
        # never to a deleted ghost (alias_all includes (__root, __root),
        # so brand-new clusters get their row too)
        self._seq += 1
        self.store.append(
            "winners",
            alias_all.join(fw, "__root")
            .select(bucket_of(F.col("__old").cast("string"),
                              self.n_buckets).alias("bucket"),
                    F.col("__old").alias("root"),
                    F.col("__fwid").alias("wid"),
                    F.col("__fwscore").alias("wscore"),
                    F.lit(self._seq).cast("long").alias("seq"))
            .distinct())
        self._publish()
        n_total = rooted.count()
        for frame in (rooted, decide, wlatest, matches):
            frame.unpersist()
        return {"upserted": n_up, "deleted": n_del,
                "dropped": n_total - n_up}

    # ------------------------------------------------------------ compact
    @locked_fold
    def compact_state(self) -> int:
        """Fold appended state into fresh generations: feature stores to
        min(root) per key, winners to the latest (max seq) row per root.
        One atomic pointer swap; returns rows retained."""
        latest = (self.store.read("winners", self._winners_schema())
                  .groupBy("root", "bucket")
                  .agg(F.max_by(F.struct("wid", "wscore", "seq"), "seq")
                       .alias("__w"))
                  .select("root", "bucket", "__w.wid", "__w.wscore",
                          "__w.seq"))
        return self._write_next({**self._folded_features(), "winners": latest})

    # ---------------------------------------------------------- analytics
    def winners(self) -> DataFrame:
        """Current (root, wid, wscore) — the latest winner per cluster."""
        w = self.store.read("winners", self._winners_schema())
        return (w.groupBy("root")
                .agg(F.max_by(F.struct("wid", "wscore"), "seq")
                     .alias("__w"))
                .select("root", F.col("__w.wid").alias("wid"),
                        F.col("__w.wscore").alias("wscore")))
