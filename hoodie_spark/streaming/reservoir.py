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
at most ``k`` rows per generation in the generation store.
A replayed batch is harmless (its (key, priority) rows are already in
or below the reservoir — distinct-fold idempotence); rollback/restore
past the watermark rebuilds from the table's current content, since a
bottom-k cannot "un-see" removed rows.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pipeline import priority_hash, weighted_priority
from .maintainer import MaintainedState, locked_fold

__all__ = ["ReservoirMaintainer"]


class ReservoirMaintainer(MaintainedState):
    """Maintained fixed-size deterministic sample of a table's keys."""

    SUBS = FLAT = ("sample",)
    KIND = "reservoir"
    PARAMS = ("k", "salt", "weight_col")
    ID_COL = "key_col"
    ID_KEY = "key_type"

    def __init__(self, table, state_path: str, key_col: str, k: int,
                 salt: str = "", weight_col: str | None = None):
        if k < 0:
            raise ValueError(f"k must be ≥ 0, got {k}")
        self.key_col = key_col
        self.k = k
        self.salt = salt
        # weighted mode: bottom-k by the Efraimidis–Spirakis exponential
        # race (functions.pipeline.weighted_priority) instead of the
        # uniform hash — same monoid, so the maintained sample stays
        # bit-identical to one batch weighted_priority_sample over the
        # union; rows with NULL/non-positive weight can never be drawn
        self.weight_col = weight_col
        super().__init__(table, state_path)

    @property
    def _pr_type(self) -> str:
        return "string" if self.weight_col is None else "double"

    def _priority(self):
        if self.weight_col is None:
            return priority_hash(self.key_col, self.salt)
        return weighted_priority(self.key_col, self.weight_col, self.salt)

    def _batch_cols(self, df: DataFrame) -> DataFrame:
        if self.weight_col is None:
            return df.select(self.key_col)
        return (df.select(self.key_col, self.weight_col)
                .filter(F.col(self.weight_col).cast("double") > 0))

    def reservoir(self) -> DataFrame:
        """The current sample: (key_col, __pr), ≤ k rows."""
        return self.store.read(
            "sample", f"{self.key_col} {self._resolve_id_type()}, "
                      f"__pr {self._pr_type}")

    # ------------------------------------------------------------- folds
    @locked_fold
    def fold(self, df: DataFrame, instant: str | None = None) -> int:
        """Fold a batch into the reservoir; returns the reservoir size.
        The new sample is written as the next generation and one atomic
        publish swaps the pointer — a crash leaves the old pointer and the
        fold simply re-runs."""
        self._resolve_id_type(df)
        cand = (self._batch_cols(df)
                .select(F.col(self.key_col),
                        self._priority().alias("__pr"))
                .unionByName(self.reservoir())
                .distinct()   # replay / state-overlap idempotence
                .orderBy(F.col("__pr").asc(), F.col(self.key_col).asc())
                .limit(self.k))
        return self._write_next(
            {"sample": cand},
            instant=self._watermark() if instant is None else instant)

    # ----------------------------------------------------------- catch-up
    # catch_up/rebuild are inherited and report the reservoir size; a
    # rebuild folds the snapshot into an emptied generation
    def _columns(self) -> tuple[str, ...]:
        return (self.key_col,) + ((self.weight_col,)
                                  if self.weight_col else ())

    _fold = fold

    def _result(self, n: int) -> int:
        return self.reservoir().count()
