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
Single-maintainer by lock contract; state is generation-pointered and
:meth:`compact_state` keeps reads O(unique docs).

100 TB story: per batch — one feature pass over the batch, bucket-pruned
state joins (batch side broadcast-small), the bounded in-batch
self-join, the star fold over batch edges only, TWO map-side-combinable
winner aggregates, and appends. Winner lookups join the ≤clusters-sized
winners store on root and fold max-seq per MATCHED root only. Never a
corpus scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.components import duplicate_groups
from ..functions.dedup import (bounded_self_pairs, doc_features,
                               min_sig_matches, sig_agreement)
from .maintainer import locked_fold

__all__ = ["KeepBestDeduper"]

_SUBS = ("content", "bands", "winners")


class KeepBestDeduper:
    """Maintain a table as the per-cluster best-scoring document set.

    Usage::

        kb = KeepBestDeduper(table, state_path, "doc_id", "text", "score")
        kb.process_batch(batch_df)   # upserts winners, deletes the beaten

    ``score_col`` must be a numeric column of every batch (NULL scores
    sort below every number). ``max_band_rows`` bounds the in-batch LSH
    self-join exactly like SplitMaintainer's knob (capped groups stay
    connected through pivot rows).
    """

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 score_col: str, threshold: float = 0.8,
                 num_hashes: int = 16, bands: int = 4, ngram: int = 5,
                 n_buckets: int = 32, max_band_rows: int | None = None):
        self.table = table
        self.path = state_path
        self.id_col = id_col
        self.text_col = text_col
        self.score_col = score_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.n_buckets = n_buckets
        self.max_band_rows = max_band_rows
        self.fs = table.storage
        self._lock_dir = state_path
        st = self._load()
        if st:
            for k in ("threshold", "num_hashes", "bands", "ngram",
                      "n_buckets"):
                if st[k] != getattr(self, k):
                    raise ValueError(
                        f"keep-best state at {self.path} was built with "
                        f"{k}={st[k]}, got {getattr(self, k)}")
        self._id_type: str | None = (
            st.get("id_type", "bigint") if st else None)
        self._seq: int = st.get("seq", 0) if st else 0
        self._gens: dict[str, int | None] = (
            st.get("gens", {s: None for s in _SUBS}) if st
            else {s: 0 for s in _SUBS})

    # ----------------------------------------------------------- state io
    @property
    def _state_file(self) -> str:
        return os.path.join(self.path, "state.json")

    def _load(self) -> dict | None:
        raw = self.fs.read_bytes(self._state_file)
        return None if raw is None else json.loads(raw)

    def _publish(self) -> None:
        from .. import storage

        self.fs.makedirs(self.path)
        payload = {"threshold": self.threshold,
                   "num_hashes": self.num_hashes, "bands": self.bands,
                   "ngram": self.ngram, "n_buckets": self.n_buckets,
                   "seq": self._seq, "gens": self._gens}
        if self._id_type is not None:
            payload["id_type"] = self._id_type
        storage.ATOMIC.put_atomic(self._state_file,
                                  json.dumps(payload).encode())

    def _resolve_id_type(self, df: DataFrame | None = None) -> str:
        if df is not None:
            t = df.schema[self.id_col].dataType.simpleString()
            if self._id_type is None:
                self._id_type = t
            elif t != self._id_type:
                raise ValueError(
                    f"keep-best state at {self.path} holds "
                    f"{self._id_type} ids; batch {self.id_col} is {t}")
        return self._id_type or "bigint"

    def _sub_path(self, sub: str) -> str:
        g = self._gens[sub]
        base = os.path.join(self.path, sub)
        return base if g is None else os.path.join(base, f"gen-{g:06d}")

    def _read(self, sub: str, schema: str) -> DataFrame:
        p = self._sub_path(sub)
        spark = self.table.spark
        buckets = [] if not self.fs.exists(p) else \
            [e for e in self.fs.listdir(p) if e.startswith("bucket=")]
        if not buckets:
            return local_frame(spark, [], f"bucket int, {schema}")
        return (spark.read.schema(f"bucket int, {schema}")
                .option("basePath", p)
                .parquet(*[os.path.join(p, e) for e in buckets]))

    # ------------------------------------------------------------- roots
    def _roots(self, df: DataFrame) -> DataFrame:
        """(df.*, __root) — the SplitMaintainer cluster-root derivation."""
        return self._roots_with_aliases(df)[0]

    def _roots_with_aliases(self, df: DataFrame):
        """(rooted, aliases): ``rooted`` = (df.*, __root); ``aliases`` =
        distinct (__root, __old) — every STATE root any member of the
        component matched (pre-min-collapse). The alias set is what lets
        winner lookups survive root drift (a batch id smaller than the
        matched state root becomes the component's new, previously-unseen
        root) and late bridges (members matching TWO resolved clusters):
        the stored winner is found under the OLD root names."""
        id_col = self.id_col
        id_t = self._resolve_id_type(df)
        mm = min_sig_matches(self.threshold, self.num_hashes)
        feats = doc_features(df, id_col, self.text_col,
                             self.num_hashes, self.bands,
                             self.ngram).persist()
        banded = feats.select(
            id_col, "minhash", F.explode_outer("bands").alias("bk")) \
            .select(id_col, "minhash",
                    F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh"))
        content = self._read("content", f"chash string, root {id_t}")
        exact_state = (feats
                       .withColumn("bucket",
                                   F.pmod(F.xxhash64("chash"),
                                          F.lit(self.n_buckets)).cast("int"))
                       .join(content, ["bucket", "chash"])
                       .select(id_col, "root"))
        sbands = self._read(
            "bands", "band int, bh string, minhash array<string>, "
            f"root {id_t}")
        near_state = (banded.filter(F.col("bh").isNotNull())
                      .withColumn("bucket",
                                  F.pmod(F.xxhash64("bh"),
                                         F.lit(self.n_buckets)).cast("int"))
                      .join(sbands.select("bucket", "band", "bh",
                                          F.col("minhash").alias("__ss"),
                                          "root"),
                            ["bucket", "band", "bh"])
                      .filter(sig_agreement(F.col("minhash"),
                                            F.col("__ss")) >= mm)
                      .select(id_col, "root"))
        sr_all = exact_state.unionByName(near_state).distinct().persist()
        state_root = (sr_all.groupBy(id_col)
                      .agg(F.min("root").alias("__sroot")))
        ex = feats.filter(F.col("chash").isNotNull()) \
            .select(id_col, "chash")
        # duplicated hashes only: singletons never emit an edge, so the
        # join-back build side is O(actual duplicates) (see
        # functions.dedup.exact_text_pairs)
        firsts = (ex.groupBy("chash")
                  .agg(F.min(id_col).alias("__first"),
                       F.count(F.lit(1)).alias("__nh"))
                  .filter(F.col("__nh") > 1).drop("__nh"))
        exact_pairs = (ex.join(firsts, "chash")
                       .filter(F.col("__first") != F.col(id_col))
                       .select(F.col("__first").alias("id_a"),
                               F.col(id_col).alias("id_b")))
        near_pairs = (bounded_self_pairs(
            banded.filter(F.col("bh").isNotNull()),
            ["band", "bh"], id_col, self.max_band_rows,
            carry=("minhash",))
            .filter(sig_agreement(F.col("minhash_a"),
                                  F.col("minhash_b")) >= mm)
            .select("id_a", "id_b"))
        comp = duplicate_groups(exact_pairs.unionByName(near_pairs)) \
            .select(F.col("id").alias("__cid"),
                    F.col("group_id").alias("__comp"))
        member = (feats.select(id_col)
                  .join(comp, feats[self.id_col] == F.col("__cid"), "left")
                  .drop("__cid")
                  .withColumn("__comp", F.coalesce(F.col("__comp"),
                                                   F.col(id_col)))
                  .join(state_root, id_col, "left"))
        comp_root = (member.groupBy("__comp")
                     .agg(F.min(F.least(F.col("__sroot"), F.col(id_col)))
                          .alias("__root")))
        roots = (member.select(id_col, "__comp")
                 .join(comp_root, "__comp").drop("__comp"))
        out = df.join(roots, id_col)
        aliases = (sr_all.join(roots, id_col)
                   .select("__root", F.col("root").alias("__old"))
                   .distinct())
        # sr_all stays pinned until the fold's writes complete (state_root
        # and aliases both consume it); LRU reclaims it after
        feats.unpersist()
        return out, aliases

    # ------------------------------------------------------------- folds
    @locked_fold
    def process_batch(self, df: DataFrame) -> dict:
        """Resolve a batch against state AND the table: upsert each
        cluster's new winner, delete the beaten stored winner, drop the
        rest. Returns ``{"upserted": n, "deleted": n, "dropped": n}``."""
        id_col, score = self.id_col, self.score_col
        id_t = self._resolve_id_type(df)
        rooted, aliases = self._roots_with_aliases(df)
        rooted = rooted.persist()
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
        winners = self._read(
            "winners", f"root {id_t}, wid {id_t}, wscore double, seq long")
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
        feats = doc_features(rooted, id_col, self.text_col,
                             self.num_hashes, self.bands, self.ngram) \
            .join(rooted.select(id_col, F.col("__root").alias("root")),
                  id_col)
        self.fs.makedirs(self.path)
        (feats.filter(F.col("chash").isNotNull())
         .select(F.pmod(F.xxhash64("chash"),
                        F.lit(self.n_buckets)).cast("int").alias("bucket"),
                 "chash", "root")
         .write.partitionBy("bucket").mode("append")
         .parquet(self._sub_path("content")))
        (feats.filter(F.col("minhash").isNotNull())
         .select(id_col, "minhash", "root",
                 F.explode("bands").alias("bk"))
         .select(F.pmod(F.xxhash64("bk.bh"),
                        F.lit(self.n_buckets)).cast("int").alias("bucket"),
                 F.col("bk.band").alias("band"),
                 F.col("bk.bh").alias("bh"), "minhash", "root")
         .write.partitionBy("bucket").mode("append")
         .parquet(self._sub_path("bands")))
        # winner POINTERS: every alias root of every touched cluster gets
        # a row naming the final winner, so future lookups via ANY of the
        # cluster's historical root names resolve to the live winner —
        # never to a deleted ghost (alias_all includes (__root, __root),
        # so brand-new clusters get their row too)
        self._seq += 1
        (alias_all.join(fw, "__root")
         .select(F.pmod(F.xxhash64(F.col("__old").cast("string")),
                        F.lit(self.n_buckets)).cast("int").alias("bucket"),
                 F.col("__old").alias("root"),
                 F.col("__fwid").alias("wid"),
                 F.col("__fwscore").alias("wscore"),
                 F.lit(self._seq).cast("long").alias("seq"))
         .distinct()
         .write.partitionBy("bucket").mode("append")
         .parquet(self._sub_path("winners")))
        self._publish()
        n_total = rooted.count()
        rooted.unpersist()
        decide.unpersist()
        wlatest.unpersist()
        return {"upserted": n_up, "deleted": n_del,
                "dropped": n_total - n_up}

    # ------------------------------------------------------------ compact
    def _sweep_stale(self) -> None:
        for sub in _SUBS:
            g = self._gens[sub]
            if g is None:
                continue
            base = os.path.join(self.path, sub)
            keep = f"gen-{g:06d}"
            for e in self.fs.listdir(base):
                if e == keep:
                    continue
                p = os.path.join(base, e)
                self.fs.rmtree(p)
                if self.fs.exists(p):
                    try:
                        self.fs.remove(p)
                    except OSError:
                        pass

    @locked_fold
    def compact_state(self) -> int:
        """Fold appended state into fresh generations: feature stores to
        min(root) per key, winners to the latest (max seq) row per root.
        One atomic pointer swap; returns rows retained."""
        id_t = self._resolve_id_type()
        total = 0
        from pyspark.sql import Observation

        plans = (
            ("content", f"chash string, root {id_t}", ["chash"], "min"),
            ("bands", "band int, bh string, minhash array<string>, "
             f"root {id_t}", ["band", "bh", "minhash"], "min"),
            ("winners", f"root {id_t}, wid {id_t}, wscore double, "
             "seq long", ["root"], "latest"),
        )
        for sub, schema, keys, mode in plans:
            cur = self._read(sub, schema)
            if mode == "min":
                folded = cur.groupBy(*keys, "bucket") \
                    .agg(F.min("root").alias("root"))
            else:
                folded = (cur.groupBy(*keys, "bucket")
                          .agg(F.max_by(F.struct("wid", "wscore", "seq"),
                                        "seq").alias("__w"))
                          .select(*keys, "bucket",
                                  F.col("__w.wid").alias("wid"),
                                  F.col("__w.wscore").alias("wscore"),
                                  F.col("__w.seq").alias("seq")))
            g = self._gens[sub]
            new_g = 0 if g is None else g + 1
            dst = os.path.join(self.path, sub, f"gen-{new_g:06d}")
            obs = Observation()
            folded = folded.observe(obs, F.count(F.lit(1)).alias("n"))
            (folded.repartition(F.col("bucket"))
             .write.partitionBy("bucket").mode("overwrite").parquet(dst))
            total += obs.get["n"]
            self._gens[sub] = new_g
        self._publish()
        self._sweep_stale()
        return total

    # ---------------------------------------------------------- analytics
    def winners(self) -> DataFrame:
        """Current (root, wid, wscore) — the latest winner per cluster."""
        id_t = self._resolve_id_type()
        w = self._read(
            "winners", f"root {id_t}, wid {id_t}, wscore double, seq long")
        return (w.groupBy("root")
                .agg(F.max_by(F.struct("wid", "wscore"), "seq")
                     .alias("__w"))
                .select("root", F.col("__w.wid").alias("wid"),
                        F.col("__w.wscore").alias("wscore")))
