"""Token-distribution drift as maintained streaming state: a hashed-token
histogram of a table kept in step batch by batch, compared on demand
against a pinned reference distribution (functions/drift.py's PSI/KL).

Why the maintained state is EXACT, not approximate: a bucket histogram is
a SUM monoid — folding per-batch census counts yields the same state as
one pass over the whole corpus, for any batch split. Unlike the min-monoid
sketches, sums are NOT idempotent and CAN be inverted:

- default mode folds the table's plain incremental read — exact for
  append-only ingest (the normal corpus case); an UPDATE would
  double-count its old image and a DELETE is invisible, so mutating
  tables should pass ``track_changes=True`` or call :meth:`rebuild`.
- ``track_changes=True`` folds the CDC view instead: add the AFTER image
  of i/u events, SUBTRACT the BEFORE image of u/d events — the histogram
  stays exactly equal to a fresh census of the snapshot under arbitrary
  upserts and deletes. (The min-monoid maintainers cannot offer this;
  sum can.)

Crash safety: state is ≤ B counters kept IN the pointer, so the counts
and the watermark move in the same atomic PUT (maintainer.py) — a crash
before it loses nothing and a folded batch is never refolded.

Use: pin a reference (the trusted corpus, or the table's own state at a
blessed instant) with ``set_reference``; each ingest batch advances the
current histogram via the Ingestor's post-commit hook; ``shift()``
returns the per-bucket PSI/KL frame with NO corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.drift import _bucket_expr, shift_from_counts
from .maintainer import MaintainedState, locked_fold

__all__ = ["DriftMonitor"]


class DriftMonitor(MaintainedState):
    """Single-writer maintained histogram + drift analytics for a table's
    ``text_col``."""

    POINTER = "histogram.json"
    KIND = "drift"
    PARAMS = ("text_col", "buckets")

    def __init__(self, table, state_path: str, text_col: str,
                 buckets: int = 64, track_changes: bool = False):
        if not 2 <= buckets <= 65536:
            raise ValueError(f"buckets must be in [2, 65536], got {buckets}")
        self.text_col = text_col
        self.buckets = int(buckets)
        self.track_changes = bool(track_changes)
        super().__init__(table, state_path)

    def _empty_state(self) -> dict:
        return {"counts": [0] * self.buckets, "reference": None}

    # ------------------------------------------------------------ census
    def _census(self, df: DataFrame, col: str | None = None) -> list[int]:
        """Bounded collect: ≤ B (bucket, cnt) rows."""
        rows = (df.select(F.explode(
            _bucket_expr(col or self.text_col, self.buckets))
            .alias("b")).groupBy("b").count().collect())
        out = [0] * self.buckets
        for r in rows:
            out[r["b"]] = r["count"]
        return out

    # ------------------------------------------------------------- folds
    @locked_fold
    def set_reference(self, ref: DataFrame | None = None) -> None:
        """Pin the reference distribution: an explicit trusted frame, or
        (None) the table's CURRENT maintained state — 'bless what we have
        now and watch what arrives next'."""
        if ref is not None:
            reference = self._census(ref.select(self.text_col))
        else:
            st = self.store.load()
            if st is None:
                raise ValueError("no maintained state to bless yet — "
                                 "catch_up() first or pass a frame")
            reference = list(st["counts"])
        self._publish(reference=reference)

    # rebuild() (inherited) re-censuses the snapshot as of the captured
    # watermark — after deletes without track_changes, or a
    # rollback/restore past the watermark — keeping the reference
    def _columns(self) -> tuple[str, ...]:
        return (self.text_col,)

    def _rebuild(self, snap, instant) -> int:
        self._publish(instant=instant, counts=[0] * self.buckets
                      if snap is None else self._census(snap))
        return 0 if snap is None else snap.count()

    def _fold(self, delta: DataFrame, instant: str) -> None:
        counts = [c + a for c, a in zip(self._state()["counts"],
                                        self._census(delta))]
        self._publish(instant=instant, counts=counts)

    def _fold_since(self, mark: str | None, last: str) -> int:
        if not self.track_changes:
            return super()._fold_since(mark, last)
        # the CDC view: add the AFTER image of i/u events, subtract the
        # BEFORE image of u/d events (bounded at the captured watermark,
        # like every fold)
        ev = self.table.incremental_cdc(begin=mark, end=last)
        add = self._census(
            ev.filter(F.col("op").isin("i", "u"))
            .select(F.col(f"after.{self.text_col}").alias(self.text_col)))
        sub = self._census(
            ev.filter(F.col("op").isin("u", "d"))
            .select(F.col(f"before.{self.text_col}").alias(self.text_col)))
        n = ev.count()
        counts = [c + a - s for c, a, s in
                  zip(self._state()["counts"], add, sub)]
        self._publish(instant=last, counts=counts)
        return n

    # --------------------------------------------------------- analytics
    def _hist_df(self, counts: list[int]) -> DataFrame:
        return local_frame(
            self.table.spark, [(b, int(c)) for b, c in enumerate(counts)],
            "bucket int, cnt long")

    def shift(self) -> DataFrame:
        """Per-bucket (bucket, ref_cnt, cur_cnt, log_ratio, psi, kl) of
        the maintained state vs the pinned reference — NO corpus scan,
        identical arithmetic to functions.drift.distribution_shift."""
        st = self._state()
        if st["reference"] is None:
            raise ValueError("no reference pinned — set_reference() first")
        return shift_from_counts(self._hist_df(st["reference"]),
                                 self._hist_df(st["counts"]),
                                 self.buckets)
