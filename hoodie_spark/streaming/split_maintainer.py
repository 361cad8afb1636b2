"""Leakage-safe train/val/test assignment as maintained streaming state.

The batch operator (:func:`~hoodie_spark.functions.pipeline.
leakage_safe_split`) assigns every near-duplicate component to ONE split.
On a continuously-ingested corpus the same guarantee has to hold ACROSS
batches: a paraphrase of a doc that already landed in eval must inherit
eval, not be re-hashed into train. This maintainer keeps per-doc dedup
features (the compact :func:`~hoodie_spark.functions.dedup.doc_features`
row: content hash + MinHash band signatures — a few hundred bytes per
doc) together with each doc's component ROOT, and assigns arriving docs
by root inheritance:

* in-batch duplicate edges (exact chash match, or LSH band match with
  signature agreement ≥ ``min_sig_matches(threshold, num_hashes)``)
  resolve to components (the large-star/small-star fold);
* every component inherits the SMALLEST root among (its members' ids,
  any state roots its members matched) — so a doc matching something
  seen three batches ago lands in that doc's split;
* ``split = hash(root)`` against the 65536-grain cuts, identical to the
  batch operator's plane.

Exactness contract: for id-ordered arrival where later batches add no
NEW connectivity between earlier components (exact copies never do —
a byte-identical copy has its original's signature, hence exactly its
original's edges), the streaming assignment is BIT-IDENTICAL to the
batch operator's sig-agreement-gated components over the union
(oracle-verified). The online limitation is the late BRIDGE: a doc
whose matches span two ALREADY-ASSIGNED components inherits the
smallest root, but the other component's earlier assignment stands —
no retroactive reassignment (test-pinned; rebuild() re-derives all
assignments from the table if a batch-exact state is required after
heavy mutation). Bridges are OBSERVABLE: every fold counts the batch
docs whose component matched ≥2 distinct state roots and accumulates
the count in ``state.json`` (:meth:`bridge_count`), so an operator can
see drift building up and decide when a ``rebuild()`` is warranted
instead of flying blind.

Crash safety is the generation store's (generation_store.py): features and
assignments append, then the watermark publishes; a replayed batch
re-derives the same roots (matching its own persisted features yields
its own root — idempotent).

Scale shape (100 TB): per batch — one feature pass over the batch, two
bucket-pruned equi-joins against state (batch side broadcast-small),
one bounded in-batch self-join (``bounded_self_pairs``; the hot-group
guard defaults OFF for bit-exactness and is exposed as
``max_band_rows`` exactly like IncrementalDeduper — capped groups stay
CONNECTED through the pivot rows, so components never split), the
O(log² c)-round component fold over the batch's OWN edges only, and
appends. In-batch exact-duplicate edges come from a groupBy(chash) min
+ join back, never a window over the content hash — a window funnels a
boilerplate cluster of millions of byte-identical docs into ONE sorted
task, while the groupBy folds map-side and the join-back streams the
hot hash through a hash probe (AQE skew-split applies). Never a corpus
scan; state grows one feature row per doc, bucket-partitioned, and
:meth:`compact_state` folds the replay/append duplicates away so state
reads stay O(unique docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.components import duplicate_groups
from ..functions.dedup import (band_rows, bounded_self_pairs, doc_features,
                               min_sig_matches, sig_agreement)
from ..functions.pipeline import sample_hash
from ..generation_store import bucket_of
from .maintainer import MaintainedState, locked_fold

__all__ = ["SplitMaintainer"]


class ClusterRootState(MaintainedState):
    """State shared by the two cluster maintainers (SplitMaintainer,
    :class:`~hoodie_spark.streaming.keep_best.KeepBestDeduper`): per-doc
    dedup features stored under each doc's cluster ROOT, and the root
    derivation that matches a batch against them."""

    PARAMS = ("threshold", "num_hashes", "bands", "ngram", "n_buckets")
    ID_COL = "id_col"
    # states written before the id type was recorded carried long ids
    LEGACY_ID_TYPE = "bigint"

    def _feature_schemas(self) -> dict[str, str]:
        id_t = self._resolve_id_type()
        return {"content": f"chash string, root {id_t}",
                "bands": "band int, bh string, minhash array<string>, "
                         f"root {id_t}"}

    def _cluster(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(rooted, matches). ``rooted`` = (df.*, __root, __bridged): the
        component root is min(member ids, members' matched state roots);
        ``__bridged`` marks components whose members matched ≥2 distinct
        state roots. ``matches`` = the distinct (id, root) state matches —
        every STATE root a member matched, before the min-collapse."""
        id_col = self.id_col
        id_t = self._resolve_id_type(df)
        mm = min_sig_matches(self.threshold, self.num_hashes)
        feats = doc_features(df, id_col, self.text_col,
                             self.num_hashes, self.bands,
                             self.ngram).persist()
        banded = band_rows(feats, [id_col, "minhash"], outer=True)

        # --- state matches → per-doc smallest matched root
        schemas = self._feature_schemas()
        exact_state = (feats
                       .withColumn("bucket",
                                   bucket_of("chash", self.n_buckets))
                       .join(self.store.read("content", schemas["content"]),
                             ["bucket", "chash"])
                       .select(id_col, "root"))
        sbands = self.store.read("bands", schemas["bands"])
        near_state = (banded.filter(F.col("bh").isNotNull())
                      .withColumn("bucket", bucket_of("bh", self.n_buckets))
                      .join(sbands.select("bucket", "band", "bh",
                                          F.col("minhash").alias("__ss"),
                                          "root"),
                            ["bucket", "band", "bh"])
                      .filter(sig_agreement(F.col("minhash"),
                                            F.col("__ss")) >= mm)
                      .select(id_col, "root"))
        matches = exact_state.unionByName(near_state).distinct()
        state_root = (matches.groupBy(id_col)
                      .agg(F.min("root").alias("__sroot"),
                           F.count("root").alias("__nsr")))

        # --- in-batch duplicate edges → components
        # exact edges: per-hash canonical = groupBy min + join back, NOT
        # a window running frame — a window sorts every byte-identical
        # copy of a boilerplate doc in ONE task (see module docstring)
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

        # --- component root = min(member ids, members' state roots);
        #     bridged ⟺ the members' matched roots span ≥2 values: one
        #     member matched ≥2 roots (__nsr, counted before the min-
        #     collapse) or two members' min roots differ
        member = (feats.select(id_col)
                  .join(comp, feats[id_col] == F.col("__cid"), "left")
                  .drop("__cid")
                  .withColumn("__comp", F.coalesce(F.col("__comp"),
                                                   F.col(id_col)))
                  .join(state_root, id_col, "left"))
        comp_root = (member.groupBy("__comp")
                     .agg(F.min(F.least(F.col("__sroot"), F.col(id_col)))
                          .alias("__root"),
                          (F.coalesce(F.min("__sroot") < F.max("__sroot"),
                                      F.lit(False))
                           | (F.coalesce(F.max("__nsr"), F.lit(0)) >= 2))
                          .alias("__bridged")))
        roots = (member.select(id_col, "__comp")
                 .join(comp_root, "__comp").drop("__comp"))
        feats.unpersist()
        return df.join(roots, id_col), matches

    def _append_features(self, rooted: DataFrame) -> None:
        """Register every row of ``rooted`` (df.*, __root) in the feature
        stores under its root."""
        feats = doc_features(rooted, self.id_col, self.text_col,
                             self.num_hashes, self.bands, self.ngram) \
            .join(rooted.select(self.id_col,
                                F.col("__root").alias("root")),
                  self.id_col)
        self.store.append(
            "content",
            feats.filter(F.col("chash").isNotNull())
            .select(bucket_of("chash", self.n_buckets).alias("bucket"),
                    "chash", "root"))
        self.store.append(
            "bands",
            band_rows(feats.filter(F.col("minhash").isNotNull()),
                      ["minhash", "root"])
            .select(bucket_of("bh", self.n_buckets).alias("bucket"),
                    "band", "bh", "minhash", "root"))

    def _folded_features(self) -> dict[str, DataFrame]:
        """The feature stores folded to min(root) per key — semantics-
        preserving, since state lookups take min(root) per match."""
        schemas = self._feature_schemas()
        return {sub: self.store.read(sub, schemas[sub])
                .groupBy(*keys, "bucket").agg(F.min("root").alias("root"))
                for sub, keys in (("content", ["chash"]),
                                  ("bands", ["band", "bh", "minhash"]))}


class SplitMaintainer(ClusterRootState):
    """Maintained leakage-safe split assignment for a table's documents.

    ``max_band_rows`` bounds the in-batch LSH self-join per (band, bh)
    group (None = exact, the default): a group over the cap is salted
    into O(n·cap) sub-joins whose pivot rows keep the component
    connected — assignment-safe (components never split; only redundant
    intra-cluster edges are sacrificed), worth setting when batches can
    contain degenerate template clusters.

    Document ids may be any orderable Spark type (long, string, …): the
    id/root type is captured from the first registered batch, persisted
    in ``state.json``, and enforced on every later batch — a long-id
    corpus cannot silently mix with a string-id one.
    """

    SUBS = ("content", "bands", "assignments")
    FLAT = ("assignments",)
    KIND = "split"
    PARAMS = ClusterRootState.PARAMS + ("splits",)

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 splits: dict[str, float] | None = None,
                 threshold: float = 0.8, num_hashes: int = 16,
                 bands: int = 4, ngram: int = 5, n_buckets: int = 32,
                 max_band_rows: int | None = None):
        self.id_col = id_col
        self.text_col = text_col
        self.splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
        if not self.splits or abs(sum(self.splits.values()) - 1.0) > 1e-6:
            raise ValueError("split fractions must sum to 1")
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.n_buckets = n_buckets
        self.max_band_rows = max_band_rows
        self._pin: DataFrame | None = None  # last fold's persisted frame
        super().__init__(table, state_path)
        # cumulative count of bridge docs (see module docstring)
        self._bridges: int = self._state().get("bridges", 0)

    def _fields(self) -> dict:
        return {"bridges": self._bridges}

    # ------------------------------------------------------------- split
    def _split_expr(self, root_col):
        h = sample_hash(root_col) % 65536
        names = list(self.splits)
        cum, cuts = 0.0, []
        for name in names[:-1]:
            cum += self.splits[name]
            cuts.append(int(round(cum * 65536)))
        expr = F.lit(names[-1])
        for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
            expr = F.when(h < cut, F.lit(name)).otherwise(expr)
        return expr

    # ------------------------------------------------------------ assign
    def _assign(self, df: DataFrame) -> DataFrame:
        """(df.*, __root, __bridged, split) — pure derivation, no state
        mutation."""
        rooted, _ = self._cluster(df)
        return rooted.withColumn("split", self._split_expr(F.col("__root")))

    @locked_fold
    def assign_and_register(self, df: DataFrame,
                            instant: str | None = None) -> DataFrame:
        """Assign splits to a batch AND persist its features+roots as
        state; returns (df.*, __root, split). The returned frame reads
        from a frame persisted by this fold (kept pinned so callers'
        downstream actions do not re-run the derivation — state joins,
        component fold and all); call :meth:`release` when done with it.
        The next fold releases the previous pin automatically."""
        self.release()
        full = self._assign(df).persist()
        n_bridges = full.filter(F.col("__bridged")).count()  # materializes
        self._append_features(full)
        self.store.append("assignments",
                          full.select(self.id_col,
                                      F.col("__root").alias("root"),
                                      "split"))
        self._bridges += int(n_bridges)
        self._publish(instant=self._watermark() if instant is None
                      else instant)
        self._pin = full
        return full.drop("__bridged")

    def release(self) -> None:
        """Unpersist the frame pinned by the last
        :meth:`assign_and_register` (no-op when nothing is pinned)."""
        if self._pin is not None:
            try:
                self._pin.unpersist()
            except Exception:
                pass
            self._pin = None

    def bridge_count(self) -> int:
        """Cumulative number of batch docs whose component matched ≥2
        distinct state roots — each one an assignment the batch operator
        would have merged but the online path could not reassign. A
        growing count is the signal that :meth:`rebuild` is due."""
        st = self.store.load()
        return st.get("bridges", 0) if st else self._bridges

    # ----------------------------------------------------------- catch-up
    # catch_up (inherited) assigns+registers every table row that arrived
    # since the watermark: replay-safe, as docs already in state match
    # their own persisted features and inherit their own root
    def _columns(self) -> tuple[str, ...]:
        return (self.id_col, self.text_col)

    _fold = assign_and_register

    def _rebuild(self, snap, instant) -> int:
        """rebuild() re-derives every assignment from the table's current
        content as ONE batch (exact batch semantics — also resets the
        bridge counter). Used after rollback/restore; NOTE assignments
        can change — rebuilding is an operator decision, not routine
        maintenance."""
        self._bridges = 0
        return super()._rebuild(snap, instant)

    # ------------------------------------------------------------ compact
    @locked_fold
    def compact_state(self) -> int:
        """Fold the per-batch appended files into one compact generation
        per store and swap the ``state.json`` pointer atomically. Returns
        rows retained.

        What folds away: crash-replay re-appends (byte-identical rows)
        and superseded (key, root) sightings (min root per key, see
        :meth:`_folded_features`); assignments collapse to their distinct
        rows (replays re-append identical triples). Without this the
        stores grow with every replayed batch and ``assignments()`` pays
        a monotonic scan."""
        return self._write_next({**self._folded_features(),
                              "assignments": self.assignments()})

    # ---------------------------------------------------------- analytics
    def assignments(self) -> DataFrame:
        """All persisted (id, root, split) rows. Distinct: a crash-replay
        of a batch re-appends byte-identical rows (replay idempotence),
        so duplicates carry no information; :meth:`compact_state` folds
        them away on disk."""
        id_t = self._resolve_id_type()
        return self.store.read(
            "assignments",
            f"{self.id_col} {id_t}, root {id_t}, split string").distinct()
