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

Crash safety mirrors the sibling maintainers: features+assignments
append first, the watermark publishes last with one atomic PUT;
a replayed batch re-derives the same roots (matching its own persisted
features yields its own root — idempotent), and the watermark gates
catch_up replays. Single-maintainer by contract — folds run inside the
maintainer lock (maintainer.py).

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
scan; state grows one feature row per doc, is bucket-partitioned on
disk exactly like IncrementalDeduper's, and :meth:`compact_state` folds
the replay/append duplicates into a fresh generation (one atomic
pointer swap — object-store safe) so state reads stay O(unique docs).
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
from ..functions.pipeline import sample_hash
from .maintainer import locked_fold

__all__ = ["SplitMaintainer"]

_SUBS = ("content", "bands", "assignments")


class SplitMaintainer:
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

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 splits: dict[str, float] | None = None,
                 threshold: float = 0.8, num_hashes: int = 16,
                 bands: int = 4, ngram: int = 5, n_buckets: int = 32,
                 max_band_rows: int | None = None):
        self.table = table
        self.path = state_path
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
        self.fs = table.storage
        self._lock_dir = state_path  # single-maintainer fence
        self._pin: DataFrame | None = None  # last fold's persisted frame
        st = self._load()
        if st:
            for k in ("threshold", "num_hashes", "bands", "ngram",
                      "n_buckets"):
                if st[k] != getattr(self, k):
                    raise ValueError(
                        f"split state at {self.path} was built with "
                        f"{k}={st[k]}, got {getattr(self, k)}")
            if st["splits"] != self.splits:
                raise ValueError(
                    f"split state at {self.path} was built with "
                    f"splits={st['splits']} — fractions are part of the "
                    "assignment and cannot change mid-corpus")
        # id/root Spark type (simpleString). None until the first batch
        # registers; legacy states (written before the field existed)
        # carried only long ids.
        self._id_type: str | None = (
            st.get("id_type", "bigint") if st else None)
        # cumulative count of bridge docs (see module docstring)
        self._bridges: int = st.get("bridges", 0) if st else 0
        # generation pointers: None = pre-gen LEGACY flat layout (data
        # directly under content/ bands/ assignments/ — the next
        # compact_state migrates it into gen-000000)
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

    def _publish(self, instant: str | None) -> None:
        from .. import storage

        self.fs.makedirs(self.path)
        payload = {
            "instant": instant, "threshold": self.threshold,
            "num_hashes": self.num_hashes, "bands": self.bands,
            "ngram": self.ngram, "n_buckets": self.n_buckets,
            "splits": self.splits, "bridges": self._bridges,
            "gens": self._gens}
        if self._id_type is not None:
            payload["id_type"] = self._id_type
        storage.ATOMIC.put_atomic(self._state_file,
                                  json.dumps(payload).encode())

    def _resolve_id_type(self, df: DataFrame | None = None) -> str:
        """The Spark type of ids/roots. Captured from the first batch,
        then enforced: state schemas are derived from it, so a corpus
        cannot mix id types mid-stream."""
        if df is not None:
            t = df.schema[self.id_col].dataType.simpleString()
            if self._id_type is None:
                self._id_type = t
            elif t != self._id_type:
                raise ValueError(
                    f"split state at {self.path} holds {self._id_type} "
                    f"ids; batch {self.id_col} is {t}")
        return self._id_type or "bigint"

    def _sub_path(self, sub: str) -> str:
        g = self._gens[sub]
        base = os.path.join(self.path, sub)
        return base if g is None else os.path.join(base, f"gen-{g:06d}")

    def _read(self, sub: str, schema: str) -> DataFrame:
        p = self._sub_path(sub)
        spark = self.table.spark
        if sub == "assignments":  # not bucket-partitioned
            entries = [] if not self.fs.exists(p) else self.fs.listdir(p)
            # read the parquet files EXPLICITLY: a crashed compact can
            # leave an unpointed gen-NNNNNN dir nested inside a legacy
            # flat layout, which a bare directory read would trip over
            files = [e for e in entries if e.endswith(".parquet")]
            if not files:
                return local_frame(spark, [], schema)
            return (spark.read.schema(schema)
                    .parquet(*[os.path.join(p, e) for e in files]))
        buckets = [] if not self.fs.exists(p) else \
            [e for e in self.fs.listdir(p) if e.startswith("bucket=")]
        if not buckets:
            return local_frame(spark, [], f"bucket int, {schema}")
        # explicit bucket dirs (basePath keeps the partition column) so a
        # crashed migration's gen-000000 inside a legacy flat dir or a
        # _SUCCESS file can never break partition discovery
        return (spark.read.schema(f"bucket int, {schema}")
                .option("basePath", p)
                .parquet(*[os.path.join(p, e) for e in buckets]))

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
        mutation. ``__bridged`` marks docs whose in-batch component
        matched ≥2 distinct state roots (the online-limitation bridge)."""
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

        # --- state matches → per-doc smallest matched root
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
        state_root = (exact_state.unionByName(near_state)
                      .groupBy(id_col)
                      .agg(F.min("root").alias("__sroot"),
                           F.count_distinct("root").alias("__nsr")))

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
        #     component bridge flag = members' state roots span ≥2 roots
        member = (feats.select(id_col)
                  .join(comp, feats[self.id_col] == F.col("__cid"), "left")
                  .drop("__cid")
                  .withColumn("__comp", F.coalesce(F.col("__comp"),
                                                   F.col(id_col)))
                  .join(state_root, id_col, "left"))
        # bridged ⟺ the union of roots matched by the component's members
        # has ≥2 elements: either one member matched ≥2 roots directly
        # (__nsr, counted BEFORE state_root's min-collapse) or two
        # members' min-matched roots differ (count_distinct of __sroot)
        comp_root = (member.groupBy("__comp")
                     .agg(F.min(F.least(F.col("__sroot"), F.col(id_col)))
                          .alias("__root"),
                          ((F.count_distinct("__sroot") >= 2)
                           | (F.coalesce(F.max("__nsr"), F.lit(0)) >= 2))
                          .alias("__bridged")))
        roots = (member.select(id_col, "__comp")
                 .join(comp_root, "__comp").drop("__comp"))
        out = (df.join(roots, id_col)
               .withColumn("split", self._split_expr(F.col("__root"))))
        feats.unpersist()
        return out

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
        feats = doc_features(full, self.id_col, self.text_col,
                             self.num_hashes, self.bands, self.ngram) \
            .join(full.select(self.id_col,
                              F.col("__root").alias("root")),
                  self.id_col)
        self.fs.makedirs(self.path)
        (feats.filter(F.col("chash").isNotNull())
         .select(F.pmod(F.xxhash64("chash"),
                        F.lit(self.n_buckets)).cast("int").alias("bucket"),
                 "chash", "root")
         .write.partitionBy("bucket").mode("append")
         .parquet(self._sub_path("content")))
        (feats.filter(F.col("minhash").isNotNull())
         .select(self.id_col, "minhash", "root",
                 F.explode("bands").alias("bk"))
         .select(F.pmod(F.xxhash64("bk.bh"),
                        F.lit(self.n_buckets)).cast("int").alias("bucket"),
                 F.col("bk.band").alias("band"),
                 F.col("bk.bh").alias("bh"), "minhash", "root")
         .write.partitionBy("bucket").mode("append")
         .parquet(self._sub_path("bands")))
        (full.select(self.id_col, F.col("__root").alias("root"),
                     "split")
         .write.mode("append")
         .parquet(self._sub_path("assignments")))
        self._bridges += int(n_bridges)
        self._publish(instant if instant is not None
                      else (self._load() or {}).get("instant"))
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
        st = self._load()
        return st.get("bridges", 0) if st else self._bridges

    # ----------------------------------------------------------- catch-up
    @locked_fold
    def catch_up(self) -> int:
        """Assign+register every table row that arrived since the
        watermark (crash repair / pre-existing table adoption)."""
        st = self._load()
        mark = st["instant"] if st else None
        if mark is not None:
            from .. import timeline as tl

            undone = [i for i in self.table.timeline.completed(
                          (tl.ROLLBACK, tl.RESTORE))
                      if i.timestamp > mark]
            if undone:
                return self.rebuild()
        last = self.table.timeline.last_completed()
        if last is None or (mark is not None and last.timestamp <= mark):
            if st is None:
                self._publish(None)
            return 0
        delta = self.table.incremental(begin=mark, end=last.timestamp) \
            .select(self.id_col, self.text_col)
        n = delta.count()
        if n:
            # replay-safe: docs already in state match their own persisted
            # features and inherit their own root
            self.assign_and_register(delta, instant=last.timestamp)
        else:
            self._publish(last.timestamp)
        return n

    @locked_fold
    def rebuild(self) -> int:
        """Drop state and re-derive every assignment from the table's
        current content as ONE batch (exact batch semantics — also resets
        the bridge counter). Used after rollback/restore; NOTE assignments
        can change — rebuilding is an operator decision, not routine
        maintenance."""
        last = self.table.timeline.last_completed()
        for sub in _SUBS:
            g = self._gens[sub]
            self._gens[sub] = 0 if g is None else g + 1
            # the destination generation may hold a crashed compact's
            # partial copy of the PRE-rebuild state — clear it
            self.fs.rmtree(self._sub_path(sub))
        self._bridges = 0
        snap = self.table.snapshot(
            as_of=last.timestamp if last else None) \
            .select(self.id_col, self.text_col)
        if last is None:
            self._publish(None)
            self._sweep_stale()
            return 0
        self.assign_and_register(snap, instant=last.timestamp)
        self._sweep_stale()
        return snap.count()

    # ------------------------------------------------------------ compact
    def _sweep_stale(self) -> None:
        """Best-effort removal of superseded generations; only the
        generation the pointer names is ever read, so skipping or
        crashing mid-sweep is safe."""
        for sub in _SUBS:
            g = self._gens[sub]
            if g is None:
                continue  # legacy flat layout: the dir IS the live state
            base = os.path.join(self.path, sub)
            keep = f"gen-{g:06d}"
            for e in self.fs.listdir(base):
                if e == keep:
                    continue
                p = os.path.join(base, e)
                self.fs.rmtree(p)
                if self.fs.exists(p):  # plain file (_SUCCESS etc.)
                    try:
                        self.fs.remove(p)
                    except OSError:
                        pass

    @locked_fold
    def compact_state(self) -> int:
        """Fold the per-batch appended files into one compact generation
        per store and swap the ``state.json`` pointer atomically (no
        rename — object-store safe). Returns rows retained.

        What folds away: crash-replay re-appends (byte-identical rows)
        and superseded (key, root) sightings — state lookups take
        ``min(root)`` per match, so keeping only the per-key minimum root
        is semantics-preserving for every future :meth:`_assign`;
        assignments collapse to their distinct rows (replays re-append
        identical triples). Without this the stores grow with every
        replayed batch and ``assignments()`` pays a monotonic scan."""
        st = self._load()
        mark = st["instant"] if st else None
        id_t = self._resolve_id_type()
        total = 0
        from pyspark.sql import Observation

        plans = (
            ("content", f"chash string, root {id_t}", ["chash"]),
            ("bands", "band int, bh string, minhash array<string>, "
             f"root {id_t}", ["band", "bh", "minhash"]),
        )
        for sub, schema, keys in plans:
            folded = (self._read(sub, schema)
                      .groupBy(*keys, "bucket")
                      .agg(F.min("root").alias("root")))
            g = self._gens[sub]
            new_g = 0 if g is None else g + 1
            dst = os.path.join(self.path, sub, f"gen-{new_g:06d}")
            obs = Observation()
            folded = folded.observe(obs, F.count(F.lit(1)).alias("n"))
            # overwrite: a crashed prior compact may have left a partial
            # copy at this generation (pointer never swapped to it)
            (folded.repartition(F.col("bucket"))
             .write.partitionBy("bucket").mode("overwrite").parquet(dst))
            total += obs.get["n"]
            self._gens[sub] = new_g
        asg = self._read(
            "assignments",
            f"{self.id_col} {id_t}, root {id_t}, split string").distinct()
        g = self._gens["assignments"]
        new_g = 0 if g is None else g + 1
        dst = os.path.join(self.path, "assignments", f"gen-{new_g:06d}")
        obs = Observation()
        asg = asg.observe(obs, F.count(F.lit(1)).alias("n"))
        asg.write.mode("overwrite").parquet(dst)
        total += obs.get["n"]
        self._gens["assignments"] = new_g
        self._publish(mark)  # the atomic pointer swap
        self._sweep_stale()
        return total

    # ---------------------------------------------------------- analytics
    def assignments(self) -> DataFrame:
        """All persisted (id, root, split) rows. Distinct: a crash-replay
        of a batch re-appends byte-identical rows (replay idempotence),
        so duplicates carry no information; :meth:`compact_state` folds
        them away on disk."""
        id_t = self._resolve_id_type()
        return self._read(
            "assignments",
            f"{self.id_col} {id_t}, root {id_t}, split string").distinct()

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook."""
        return self.catch_up()
