"""Incremental corpus dedup against persisted table state.

The batch-global dedup operators (:mod:`hoodie_spark.functions.dedup`) answer
"which docs in THIS corpus are duplicates" — admitting a new day's crawl with
them means re-scanning the whole corpus. This module keeps a compact dedup
STATE next to the table so each arriving batch is filtered against everything
already seen in O(batch), never O(corpus):

- ``content/`` — one md5(text) per seen doc, hash-partitioned by
  ``bucket = pmod(xxhash64(chash), n_buckets)``: the exact-duplicate probe
  reads ONLY the bucket partitions the batch's hashes fall in (partition
  pruning on a parquet ``partitionBy`` layout), so the state side of the
  anti-join is O(batch-buckets), not O(corpus).
- ``bands/`` — the LSH band keys of each seen doc's MinHash signature, with
  the full signature inline, partitioned by ``pmod(xxhash64(bh), n_buckets)``.
  A new doc probes state on (band, bh); candidates are verified by signature
  agreement ≥ threshold — an in-row zip, no text re-reads, no corpus scan.
- ``state.json`` — watermark: the table instant state is synced through,
  plus the signature parameters (batches must agree on them), plus the
  per-store generation pointers.

State layout and crash contract: the generation store of
:mod:`~hoodie_spark.streaming.maintainer` (batches append into the live
generation; :meth:`IncrementalDeduper.compact_state` writes the folded
copy into the next one and swaps the pointer).

Semantics (the contract the driver oracle verifies): a doc is dropped iff
ANY earlier-seen doc — previous batches, or a smaller id within its own
batch — is an exact duplicate or shares ≥1 band with ≥ threshold signature
agreement. "Seen" includes docs that were themselves dropped, which is what
makes batch-by-batch filtering EXACTLY equal to one global
:func:`~hoodie_spark.functions.dedup.seen_dedup` pass over the union.

Crash story: state is appended AFTER the table commit and the watermark is
published atomically after the append. A crash in between leaves state
behind the table; the next batch detects the gap and backfills from the
table's own incremental read (kept docs only — signatures of docs that were
dropped in the lost window are gone, so a near-dup of such a doc may be
re-admitted once: dedup degrades toward re-admission, never false drops).
A rollback/restore past the watermark breaks that direction — state would
still carry removed rows as "seen" and falsely drop their re-ingest — so
catch_up detects it and rebuilds state from the table's current content.
Row-level DELETEs deliberately do NOT invalidate seen-state: a deleted
doc's content stays suppressed if it arrives again (takedown semantics —
the usual reason corpus rows are deleted); an operator who wants deleted
content re-admittable should call :meth:`~IncrementalDeduper.rebuild`.

Reference parity: the role DeltaStreamer's continuous mode plays in the
reference (hudi-utilities .../deltastreamer/HoodieDeltaStreamer.java:354 —
each round processes only new source data) combined with filterExists
(hudi-client .../HoodieReadClient.java:186 — drop records already in the
table) — here generalized from key-identity to content/near-dup identity.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import (band_rows, bounded_self_pairs, doc_features,
                               min_sig_matches, sig_agreement)
from ..generation_store import bucket_of
from .maintainer import MaintainedState, locked_fold

STATE_DIR = "dedup_state"

logger = logging.getLogger(__name__)


class IncrementalDeduper(MaintainedState):
    """Filter arriving batches against everything the table has seen.

    Usage (or pass ``deduper=`` to :class:`~hoodie_spark.streaming.ingest.Ingestor`)::

        dd = IncrementalDeduper(table, "doc_id", "text", threshold=0.8)
        kept = dd.filter_batch(batch_df)   # drop seen dups, O(batch)
        table.insert(kept)                 # unseen keys only -> no index join
        dd.advance(batch_df)               # register the WHOLE batch as seen
    """

    SUBS = ("content", "bands")
    KIND = "dedup"
    PARAMS = ("num_hashes", "bands", "ngram", "n_buckets")

    def __init__(self, table, id_col: str, text_col: str,
                 threshold: float = 0.8, num_hashes: int = 16,
                 bands: int = 4, ngram: int = 5, n_buckets: int = 32,
                 max_band_rows: int | None = None,
                 warn_band_rows: int = 5000):
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.n_buckets = n_buckets
        # optional hot-group cap for the IN-BATCH near-dup self-join; None
        # (default) keeps exact incremental==global equivalence
        self.max_band_rows = max_band_rows
        # observability for the uncapped default: filter_batch logs a
        # warning (no extra Spark action — measured inside the census
        # aggregation) when any in-batch (band, bh) group exceeds this,
        # so the O(n^2) adversarial-batch hazard is visible in production
        self.warn_band_rows = warn_band_rows
        self.dir = os.path.join(table.base_path, ".hoodie", STATE_DIR)
        # feature reuse between filter_batch(df) and the advance(df) that
        # follows it: instance state, valid because a deduper is a
        # single-writer object (one ingest pipeline per table by OCC)
        self._feat_cache: tuple[DataFrame, DataFrame, DataFrame] | None = None
        super().__init__(table, self.dir)

    def _release_pins(self) -> None:
        if self._feat_cache is not None:
            for frame in self._feat_cache[1:]:
                try:
                    frame.unpersist()
                except Exception:
                    pass
            self._feat_cache = None

    # ------------------------------------------------------------ features
    def _features(self, df: DataFrame) -> DataFrame:
        return doc_features(df, self.id_col, self.text_col,
                            self.num_hashes, self.bands, self.ngram)

    def _banded(self, feats: DataFrame) -> DataFrame:
        return band_rows(feats.filter(F.col("bands").isNotNull()),
                         [self.id_col, "minhash"])

    # ------------------------------------------------------------- filter
    def filter_batch(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` that are neither exact nor near duplicates of any
        earlier-seen doc (persisted state or a smaller id in this batch)."""
        self.catch_up()
        self._release_pins()  # a prior filter_batch never advanced: drop its pins
        id_col = self.id_col
        mm = min_sig_matches(self.threshold, self.num_hashes)
        feats = self._features(df).persist()
        banded = self._banded(feats).persist()
        self._feat_cache = (df, feats, banded)

        # exact vs state: probe ONLY the state buckets the batch hashes in.
        # BOTH bucket censuses (content hash + band hash) AND the max
        # in-batch band-group size fold into ONE aggregation job over the
        # persisted features — a (band, bh) groupBy (map-side combined)
        # re-aggregated to a single row: the collect is two bounded
        # arrays (<= n_buckets ints each) plus one int, and this single
        # action is also the feats materialization point.
        probe = feats.withColumn("bucket",
                                 bucket_of("chash", self.n_buckets))
        ex = band_rows(feats,
                       [bucket_of("chash", self.n_buckets).alias("cbk")],
                       outer=True)
        census = (
            ex.groupBy("band", "bh")
            .agg(F.collect_set("cbk").alias("cbs"),
                 F.count("bh").alias("gn"))
            .agg(F.array_distinct(
                     F.flatten(F.collect_list("cbs"))).alias("cb"),
                 F.collect_set(F.when(
                     F.col("bh").isNotNull(),
                     bucket_of("bh", self.n_buckets))).alias("bb"),
                 F.max(F.when(F.col("bh").isNotNull(),
                              F.col("gn"))).alias("maxg"))
            .first())
        buckets = list(census["cb"] or [])
        bbuckets = list(census["bb"] or [])
        if self.max_band_rows is None and \
                (census["maxg"] or 0) > self.warn_band_rows:
            logger.warning(
                "in-batch near-dup self-join: largest (band, bh) group has "
                "%d rows (> warn_band_rows=%d) and max_band_rows is None — "
                "candidate pairing is quadratic in that group. Set "
                "max_band_rows for a hard O(n*cap) bound (trades exact "
                "incremental==global equivalence).",
                census["maxg"], self.warn_band_rows)
        content = self.store.read("content", "chash string")
        if buckets:
            content = content.filter(F.col("bucket").isin(buckets))
        exact_state = (probe.join(content, ["bucket", "chash"], "left_semi")
                       .select(id_col))
        # exact within batch: any smaller id with the same bytes — a
        # groupBy(chash) min + join back (map-side partial, hash probe),
        # not a window, which would sort a byte-identical boilerplate
        # cluster in one task. NULL text (chash IS NULL) is never an
        # exact duplicate — mirroring seen_dedup, and consistent with the
        # state probe above whose equi-join can never match a NULL chash
        exb = feats.filter(F.col("chash").isNotNull()) \
            .select(id_col, "chash")
        # duplicated hashes only: a singleton group can never drop a row
        # (its join-back row fails id != __keep), so the join's build
        # side shrinks from every-distinct-text to just the duplicated
        # texts (O(actual duplicates); AQE broadcasts it when it fits)
        exb_mins = (exb.groupBy("chash")
                    .agg(F.min(id_col).alias("__keep"),
                         F.count(F.lit(1)).alias("__nh"))
                    .filter(F.col("__nh") > 1).drop("__nh"))
        exact_batch = (exb.join(exb_mins, "chash")
                       .filter(F.col(id_col) != F.col("__keep"))
                       .select(id_col))

        # near vs state: equi-join on (band, bh) against the pruned bucket
        # partitions (bbuckets from the shared census above); the batch
        # side is the small build side
        bprobe = banded.withColumn("bucket", bucket_of("bh", self.n_buckets))
        sbands = self.store.read(
            "bands", "band int, bh string, minhash array<string>")
        if bbuckets:
            sbands = sbands.filter(F.col("bucket").isin(bbuckets))
        near_state = (
            bprobe.join(
                sbands.select("bucket", "band", "bh",
                              F.col("minhash").alias("__ssig")),
                ["bucket", "band", "bh"])
            .filter(sig_agreement(F.col("minhash"), F.col("__ssig")) >= mm)
            .select(id_col))
        # near within batch: banded self-join, later id drops. Routed
        # through bounded_self_pairs with the guard DISABLED by default
        # (max_band_rows=None): capping loses cross-salt pairs above the
        # cap, and the cap would bite per-BATCH groups while seen_dedup's
        # would bite per-CORPUS groups, breaking the exact incremental ==
        # global equivalence the oracle verifies. Micro-batches bound the
        # group size operationally; set max_band_rows to trade exactness
        # for a hard O(n*cap) bound on adversarial batches.
        near_batch = (
            bounded_self_pairs(banded, ["band", "bh"], id_col,
                               self.max_band_rows, carry=("minhash",))
            .filter(sig_agreement(F.col("minhash_a"),
                                  F.col("minhash_b")) >= mm)
            .select(F.col("id_b").alias(id_col)))

        dropped = (exact_state.unionByName(exact_batch)
                   .unionByName(near_state).unionByName(near_batch)
                   .distinct())
        return df.join(dropped, id_col, "left_anti")

    # ------------------------------------------------------------- advance
    @locked_fold
    def advance(self, df: DataFrame, instant: str | None = None) -> None:
        """Register EVERY row of the batch (kept or dropped) as seen and
        publish the watermark. Call after the table commit succeeded."""
        own_pin = False
        if self._feat_cache is not None and self._feat_cache[0] is df:
            # reuse the persisted features filter_batch(df) just computed —
            # the signature pass is the dominant cost of a batch
            feats = self._feat_cache[1]
        else:
            self._release_pins()
            feats = self._features(df).persist()
            own_pin = True
        if instant is None:
            last = self.table.timeline.last_completed()
            instant = last.timestamp if last else None
        # seen_at stamps each signature with the batch's instant so
        # compact_state(retain_after=...) can age state out (bounded-
        # window dedup); filter_batch reads with an explicit schema that
        # omits the column, so probes are unaffected
        seen = F.lit(instant).cast("string").alias("seen_at")
        # NULL text: never a duplicate
        content = (feats.filter(F.col("chash").isNotNull())
                   .select("chash",
                           bucket_of("chash", self.n_buckets).alias("bucket"))
                   .distinct()
                   .select("chash", "bucket", seen))
        bands = (self._banded(feats)
                 .select("band", "bh", "minhash",
                         bucket_of("bh", self.n_buckets).alias("bucket"),
                         seen))
        # the two state appends are independent jobs over the same cached
        # features and the watermark publish below is the only commit
        # point (partial appends are harmless duplicates under EXISTS
        # probes), so submit them concurrently instead of queueing the
        # bands write behind the content write
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(self.store.append, "content", content),
                      pool.submit(self.store.append, "bands", bands)]:
                f.result()
        if own_pin:
            feats.unpersist()
        else:
            self._release_pins()  # feats + banded from the paired filter_batch
        self._publish(instant=instant)

    # ------------------------------------------------------------ catch-up
    # catch_up (inherited) backfills from the table's OWN incremental read
    # since the watermark — only kept docs are recoverable this way, see
    # the module docstring for the (re-admission-only) degradation
    # contract — and rebuilds after a rollback/restore past it.
    def _columns(self) -> tuple[str, ...]:
        return (self.id_col, self.text_col)

    _fold = advance

    # ------------------------------------------------------------- compact
    @locked_fold
    def compact_state(self, retain_after: str | None = None) -> int:
        """Fold per-batch appended files: one file per bucket, duplicates
        collapsed onto their LATEST sighting (EXISTS semantics make
        duplicates harmless but they cost scan width), written as the next
        generation and swapped in by one atomic pointer publish. Returns
        rows retained.

        ``retain_after`` bounds the state for long-running pipelines
        (100 TB concern: corpus-identity state otherwise grows forever):
        signatures whose latest sighting is an instant STRICTLY BEFORE
        ``retain_after`` are evicted, turning the deduper into a
        sliding-window dedup — a duplicate of a doc last seen before the
        window is ADMITTED again (the allowed degradation direction;
        false drops remain impossible). Rows with an unknown age (state
        written before ``seen_at`` existed, or advanced with no table
        instant) are conservatively RETAINED — they can only cause extra
        drops of true duplicates, never a false drop."""
        folded = {}
        for sub, schema, keys in (
                ("content", "chash string", ["chash"]),
                ("bands", "band int, bh string, minhash array<string>",
                 ["band", "bh", "minhash"])):
            # schema-on-read: generations written before the seen_at
            # column existed surface it as NULL
            f = (self.store.read(sub, schema + ", seen_at string")
                 .groupBy(*keys, "bucket")
                 .agg(F.max("seen_at").alias("seen_at")))
            if retain_after is not None:
                f = f.filter(F.col("seen_at").isNull()
                             | (F.col("seen_at") >= retain_after))
            folded[sub] = f
        return self._write_next(folded)
