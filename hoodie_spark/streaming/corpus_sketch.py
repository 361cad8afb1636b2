"""Corpus-overlap sketches as maintained streaming state: per-source
MinHash sketches (functions/dedup.group_sketches) kept in step with a
hoodie_spark table batch by batch, so cross-source overlap analytics
(functions/dedup.sketch_overlap) run off G×H rows of state instead of
re-scanning the corpus.

Why this is exact, not approximate-on-approximate: the per-group sketch
is a MONOID under componentwise min — merging per-batch sketches yields
BIT-IDENTICAL state to sketching the whole corpus in one pass, for any
batch split and any replay (min is associative, commutative and
idempotent). The driver oracle pins exactly that: the maintained state's
overlap equals the batch corpus_overlap_minhash SQL over the raw table.

The watermark + catch-up contract is maintainer.py's; min-idempotence
makes crash replays trivially safe — folding the same batch twice is a
no-op. The one additive-only caveat: DELETED
rows cannot be un-min'd from a sketch; deletes (not updates of other
rows — those only ADD shingles, which keeps the estimate conservative in
the same direction as any sketch staleness) require a rebuild. A delete
is invisible to the incremental view, so the maintainer cannot detect it
— call ``rebuild()`` after bulk deletes, or run periodic rebuilds if the
table deletes routinely.

State is tiny by contract (G sources × H 32-byte minima), so each fold
collects the merged state to the driver (bounded metadata, like the
centroid codebooks) and keeps it IN the pointer — no parquet sub-store
at this size, and the publish is a single object-store operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.dedup import (group_sketches, sketch_distinct_estimate,
                               sketch_overlap)
from .maintainer import MaintainedState, locked_fold

__all__ = ["CorpusSketchMaintainer"]


class CorpusSketchMaintainer(MaintainedState):
    """Maintains per-``group_col`` MinHash sketches of ``text_col`` for a
    table. Single-writer, like every table service."""

    POINTER = "sketches.json"
    KIND = "sketch"
    PARAMS = ("num_hashes", "ngram", "group_col", "text_col")

    def __init__(self, table, state_path: str, group_col: str,
                 text_col: str, num_hashes: int = 64, ngram: int = 5,
                 max_groups: int = 4096):
        self.group_col = group_col
        self.text_col = text_col
        self.num_hashes = int(num_hashes)
        self.ngram = int(ngram)
        # the driver-side state collect is bounded by the group count —
        # enforce the "groups are data sources, not documents" contract
        self.max_groups = int(max_groups)
        super().__init__(table, state_path)

    def _empty_state(self) -> dict:
        return {"sketches": {}}

    def _publish(self, **fields) -> None:
        if len(fields.get("sketches", ())) > self.max_groups:
            raise ValueError(
                f"{len(fields['sketches'])} groups exceeds max_groups="
                f"{self.max_groups} — {self.group_col} does not look like "
                "a bounded source column")
        super()._publish(**fields)

    def _batch_sketches(self, df: DataFrame) -> dict[str, list[str]]:
        rows = group_sketches(df.select(self.group_col, self.text_col),
                              self.group_col, self.text_col,
                              self.num_hashes, self.ngram) \
            .limit(self.max_groups + 1).collect()
        return {r["__g"]: [r[f"__h{i}"] for i in range(self.num_hashes)]
                for r in rows if r["__g"] is not None}

    @staticmethod
    def _merge(a: dict, b: dict) -> dict:
        out = dict(a)
        for g, sig in b.items():
            cur = out.get(g)
            out[g] = sig if cur is None else [
                x if x is not None and (y is None or x <= y) else y
                for x, y in zip(sig, cur)]
        return out

    # ------------------------------------------------------------- folds
    @locked_fold
    def update(self, batch: DataFrame,
               instant: str | None = None) -> None:
        """Fold one batch into the state (min-merge: idempotent, order-
        independent). Prefer :meth:`catch_up` unless you are feeding
        batches that bypass the table."""
        merged = self._merge(self._state()["sketches"],
                             self._batch_sketches(batch))
        if instant is None:
            last = self.table.timeline.last_completed()
            instant = last.timestamp if last else None
        self._publish(instant=instant, sketches=merged)

    # catch_up (inherited) returns delta rows folded; rebuild() re-sketches
    # the table's snapshot (after deletes — a min cannot un-see a row — or
    # a rollback/restore past the watermark) and returns its rows
    def _columns(self) -> tuple[str, ...]:
        return (self.group_col, self.text_col)

    _fold = update

    def _rebuild(self, snap, instant) -> int:
        self._publish(instant=instant, sketches={} if snap is None
                      else self._batch_sketches(snap))
        return 0 if snap is None else snap.count()

    # --------------------------------------------------------- analytics
    def _sigs(self) -> DataFrame:
        rows = [tuple([g] + sig)
                for g, sig in sorted(self._state()["sketches"].items())]
        cols = "__g string, " + ", ".join(
            f"__h{i} string" for i in range(self.num_hashes))
        return local_frame(self.table.spark, rows, cols)

    def overlap(self) -> DataFrame:
        """Pairwise estimated Jaccard between sources, straight from the
        G×H state — no corpus scan. Bit-identical to
        ``corpus_overlap_minhash`` over everything folded so far."""
        return sketch_overlap(self._sigs(), self.num_hashes)

    def est_distinct(self) -> DataFrame:
        """Per-group estimated DISTINCT-SHINGLE count, straight from the
        SAME G×H minima state — the
        :func:`~hoodie_spark.functions.dedup.group_distinct_sketch`
        estimator applied to the maintained sketch. Componentwise min is
        exact under union, so the maintained estimate equals the batch
        estimator over everything folded so far, bit-for-bit
        (q:sketch_distinct_incremental) — per-source content volume
        (deduplicated shingle mass) stays current at fold cost, never a
        corpus re-scan."""
        return self._sigs().select(
            F.col("__g").alias(self.group_col),
            sketch_distinct_estimate(self.num_hashes)
            .alias("est_distinct"))
