"""Fixed-size deterministic sample as maintained streaming state.

A training pipeline needs bounded, stable samples of an unbounded
corpus — eval subsets, human-inspection draws, quick-iteration dev
sets. The batch operator
(:func:`~hoodie_spark.functions.pipeline.priority_sample`) takes the
``k`` rows with the smallest ``md5(salt || key)`` priority; because
bottom-k under a fixed hash is a MONOID (bottom-k of a union =
bottom-k of the per-part bottom-k's), the same sample is maintainable
over a stream with O(batch + k) work per fold and NO approximation:

    reservoir(batches 1..n) == priority_sample(union of batches)

bit-for-bit, for ANY arrival order and any batch boundaries — unlike
classical reservoir sampling, whose RNG state is neither reproducible
nor mergeable. That equivalence is the oracle contract
(q:reservoir_incremental).

State is the current reservoir itself — one (key, priority) parquet of
at most ``k`` rows per generation, pointer-swapped atomically via
``state.json`` (the house generation layout: no renames, object-store
safe). Folds run under the single-maintainer lock; the watermark gates
catch_up replays, and a replayed batch is harmless anyway (its (key,
priority) rows are already in or below the reservoir — distinct-fold
idempotence). Rollback/restore past the watermark rebuilds from the
table's current content, since a bottom-k cannot "un-see" removed rows.

Weighted mode (``weight_col=...``): the priority becomes the
Efraimidis–Spirakis exponential race ``e = -ln(u)/w``
(:func:`~hoodie_spark.functions.pipeline.weighted_priority`) — still a
per-row deterministic score, so bottom-k stays the same monoid and the
maintained sample equals one batch
:func:`~hoodie_spark.functions.pipeline.weighted_priority_sample` over
the union (q:weighted_reservoir_incremental). Rows with NULL or
non-positive weight can never be drawn.

100 TB story: each fold scans ONLY the arriving batch (one projection
to (key, priority)), unions the ≤k-row state, and takes bottom-k via
TakeOrderedAndProject (per-partition local bottom-k, driver merge of
O(k) rows — no global sort, no corpus scan, no growth: state is
permanently ≤ k rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.pipeline import priority_hash
from .maintainer import locked_fold

__all__ = ["ReservoirMaintainer"]


class ReservoirMaintainer:
    """Maintained fixed-size deterministic sample of a table's keys."""

    def __init__(self, table, state_path: str, key_col: str, k: int,
                 salt: str = "", weight_col: str | None = None):
        if k < 0:
            raise ValueError(f"k must be ≥ 0, got {k}")
        self.table = table
        self.path = state_path
        self.key_col = key_col
        self.k = k
        self.salt = salt
        # weighted mode: bottom-k by the Efraimidis–Spirakis exponential
        # race (functions.pipeline.weighted_priority) instead of the
        # uniform hash — same monoid, so the maintained sample stays
        # bit-identical to one batch weighted_priority_sample over the
        # union; rows with NULL/non-positive weight can never be drawn
        self.weight_col = weight_col
        self.fs = table.storage
        self._lock_dir = state_path  # single-maintainer fence
        st = self._load()
        if st:
            for name in ("k", "salt", "weight_col"):
                if st.get(name) != getattr(self, name):
                    raise ValueError(
                        f"reservoir state at {self.path} was built with "
                        f"{name}={st.get(name)!r}, got "
                        f"{getattr(self, name)!r}"
                        " — the sample is a function of all three")
        self._key_type: str | None = st.get("key_type") if st else None
        self._gen: int = st.get("gen", 0) if st else 0

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
        payload = {"instant": instant, "k": self.k, "salt": self.salt,
                   "weight_col": self.weight_col, "gen": self._gen}
        if self._key_type is not None:
            payload["key_type"] = self._key_type
        storage.ATOMIC.put_atomic(self._state_file,
                                  json.dumps(payload).encode())

    def _resolve_key_type(self, df: DataFrame | None = None) -> str:
        if df is not None:
            t = df.schema[self.key_col].dataType.simpleString()
            if self._key_type is None:
                self._key_type = t
            elif t != self._key_type:
                raise ValueError(
                    f"reservoir state at {self.path} holds "
                    f"{self._key_type} keys; batch {self.key_col} is {t}")
        return self._key_type or "bigint"

    def _gen_path(self, g: int) -> str:
        return os.path.join(self.path, "sample", f"gen-{g:06d}")

    @property
    def _pr_type(self) -> str:
        return "string" if self.weight_col is None else "double"

    def _priority(self):
        if self.weight_col is None:
            return priority_hash(self.key_col, self.salt)
        from ..functions.pipeline import weighted_priority

        return weighted_priority(self.key_col, self.weight_col, self.salt)

    def _batch_cols(self, df: DataFrame) -> DataFrame:
        if self.weight_col is None:
            return df.select(self.key_col)
        return (df.select(self.key_col, self.weight_col)
                .filter(F.col(self.weight_col).cast("double") > 0))

    def reservoir(self) -> DataFrame:
        """The current sample: (key_col, __pr), ≤ k rows."""
        p = self._gen_path(self._gen)
        spark = self.table.spark
        schema = (f"{self.key_col} {self._resolve_key_type()}, "
                  f"__pr {self._pr_type}")
        entries = [] if not self.fs.exists(p) else self.fs.listdir(p)
        files = [e for e in entries if e.endswith(".parquet")]
        if not files:
            return local_frame(spark, [], schema)
        return (spark.read.schema(schema)
                .parquet(*[os.path.join(p, e) for e in files]))

    # ------------------------------------------------------------- folds
    @locked_fold
    def fold(self, df: DataFrame, instant: str | None = None) -> int:
        """Fold a batch into the reservoir; returns the reservoir size.
        Crash-safe: the new generation is written fully before one atomic
        ``state.json`` publish swaps the pointer — a crash leaves the old
        pointer and the fold simply re-runs."""
        self._resolve_key_type(df)
        cand = (self._batch_cols(df)
                .select(F.col(self.key_col),
                        self._priority().alias("__pr"))
                .unionByName(self.reservoir())
                .distinct()   # replay / state-overlap idempotence
                .orderBy(F.col("__pr").asc(), F.col(self.key_col).asc())
                .limit(self.k))
        new_g = self._gen + 1 if self.fs.exists(self._gen_path(self._gen)) \
            else self._gen
        # a crashed prior fold may have left a partial copy here
        cand.write.mode("overwrite").parquet(self._gen_path(new_g))
        self._gen = new_g
        self._publish(instant if instant is not None
                      else (self._load() or {}).get("instant"))
        self._sweep_stale()
        n = self.reservoir().count()
        return n

    def _sweep_stale(self) -> None:
        base = os.path.join(self.path, "sample")
        if not self.fs.exists(base):
            return
        keep = f"gen-{self._gen:06d}"
        for e in self.fs.listdir(base):
            if e != keep:
                self.fs.rmtree(os.path.join(base, e))

    # ----------------------------------------------------------- catch-up
    @locked_fold
    def catch_up(self) -> int:
        """Fold every table row that arrived since the watermark."""
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
        cols = [self.key_col] + ([self.weight_col]
                                 if self.weight_col else [])
        delta = self.table.incremental(begin=mark, end=last.timestamp) \
            .select(*cols)
        if delta.limit(1).count():
            self.fold(delta, instant=last.timestamp)
        else:
            self._publish(last.timestamp)
        return self.reservoir().count()

    @locked_fold
    def rebuild(self) -> int:
        """Re-derive the sample from the table's current content (used
        after rollback/restore: a bottom-k cannot un-see removed rows)."""
        last = self.table.timeline.last_completed()
        self._gen += 1
        self.fs.rmtree(self._gen_path(self._gen))
        if last is None:
            # publish an empty generation
            local_frame(
                self.table.spark, [],
                f"{self.key_col} {self._resolve_key_type()}, "
                f"__pr {self._pr_type}").write.mode("overwrite") \
                .parquet(self._gen_path(self._gen))
            self._publish(None)
            self._sweep_stale()
            return 0
        cols = [self.key_col] + ([self.weight_col]
                                 if self.weight_col else [])
        snap = self.table.snapshot(as_of=last.timestamp).select(*cols)
        return self.fold(snap, instant=last.timestamp)

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook."""
        return self.catch_up()
