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

Crash safety: state is ≤ B counters + the watermark, republished with ONE
atomic JSON PUT after each fold — a crash before the PUT loses nothing
(the watermark still names the last folded instant; catch_up refolds the
delta). Replaying a batch that WAS folded cannot happen through
catch_up() (the watermark moves in the same PUT), matching the other
maintained services. Rollback/restore newer than the watermark → snapshot
rebuild.

Use: pin a reference (the trusted corpus, or the table's own state at a
blessed instant) with ``set_reference``; each ingest batch advances the
current histogram via the Ingestor's post-commit hook; ``shift()``
returns the per-bucket PSI/KL frame with NO corpus scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.drift import _bucket_expr, shift_from_counts
from .maintainer import locked_fold

__all__ = ["DriftMonitor"]


class DriftMonitor:
    """Single-writer maintained histogram + drift analytics for a table's
    ``text_col``."""

    def __init__(self, table, state_path: str, text_col: str,
                 buckets: int = 64, track_changes: bool = False):
        if not 2 <= buckets <= 65536:
            raise ValueError(f"buckets must be in [2, 65536], got {buckets}")
        self.table = table
        self.path = state_path
        self.text_col = text_col
        self.buckets = int(buckets)
        self.track_changes = bool(track_changes)
        self.fs = table.storage
        self._lock_dir = state_path  # single-maintainer fence (maintainer.py)
        st = self._load()
        if st and (st["buckets"] != self.buckets
                   or st["text_col"] != self.text_col):
            raise ValueError(
                f"drift state at {self.path} was built with "
                f"buckets={st['buckets']}/text_col={st['text_col']!r}")

    # ----------------------------------------------------------- state io
    @property
    def _state_file(self) -> str:
        return os.path.join(self.path, "histogram.json")

    def _load(self) -> dict | None:
        raw = self.fs.read_bytes(self._state_file)
        return None if raw is None else json.loads(raw)

    def _publish(self, counts: list[int], instant: str | None,
                 reference: list[int] | None) -> None:
        from .. import storage

        self.fs.makedirs(self.path)
        storage.ATOMIC.put_atomic(self._state_file, json.dumps({
            "instant": instant, "text_col": self.text_col,
            "buckets": self.buckets, "counts": counts,
            "reference": reference}).encode())

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
        st = self._load()
        if ref is not None:
            reference = self._census(ref.select(self.text_col))
        else:
            if st is None:
                raise ValueError("no maintained state to bless yet — "
                                 "catch_up() first or pass a frame")
            reference = list(st["counts"])
        cur = st["counts"] if st else [0] * self.buckets
        self._publish(cur, st["instant"] if st else None, reference)

    @locked_fold
    def rebuild(self) -> int:
        """Re-census the current snapshot (after deletes without
        track_changes, or a rollback/restore past the watermark).

        The watermark is captured FIRST and the census reads as-of that
        instant: a commit landing between the two would otherwise be
        counted now but post-date the published watermark, so the next
        catch_up would fold it a second time (permanent double count in
        a SUM monoid)."""
        st = self._load()
        last = self.table.timeline.last_completed()
        snap = self.table.snapshot(
            as_of=last.timestamp if last else None).select(self.text_col)
        self._publish(self._census(snap),
                      last.timestamp if last else None,
                      st["reference"] if st else None)
        return snap.count()

    @locked_fold
    def catch_up(self) -> int:
        """Fold every table change since the watermark; returns change
        rows folded (snapshot rows on a rebuild)."""
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
                self._publish([0] * self.buckets, None, None)
            return 0
        counts = list(st["counts"]) if st else [0] * self.buckets
        ref = st["reference"] if st else None
        # Bound every fold at the CAPTURED watermark: the census below is
        # lazily evaluated across several Spark actions, so an unbounded
        # incremental read would fold a commit that lands mid-evaluation
        # while the published watermark (last.timestamp) predates it —
        # the next catch_up would refold it, a permanent double count in
        # a SUM monoid. With end= pinned, a concurrent commit is simply
        # the next delta.
        if self.track_changes:
            ev = self.table.incremental_cdc(begin=mark, end=last.timestamp)
            add = self._census(
                ev.filter(F.col("op").isin("i", "u"))
                .select(F.col(f"after.{self.text_col}")
                        .alias(self.text_col)))
            sub = self._census(
                ev.filter(F.col("op").isin("u", "d"))
                .select(F.col(f"before.{self.text_col}")
                        .alias(self.text_col)))
            n = ev.count()
            counts = [c + a - s for c, a, s in zip(counts, add, sub)]
        else:
            delta = self.table.incremental(begin=mark, end=last.timestamp) \
                .select(self.text_col)
            n = delta.count()
            if n:
                add = self._census(delta)
                counts = [c + a for c, a in zip(counts, add)]
        self._publish(counts, last.timestamp, ref)
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
        st = self._load()
        if st is None or st["reference"] is None:
            raise ValueError("no reference pinned — set_reference() first")
        return shift_from_counts(self._hist_df(st["reference"]),
                                 self._hist_df(st["counts"]),
                                 self.buckets)

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook."""
        return self.catch_up()
