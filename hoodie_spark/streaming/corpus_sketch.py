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

The watermark + catch-up contract matches the other maintained services
(IncrementalDeduper, IvfIndexMaintainer): state carries the last folded
table instant, catch_up() folds the table's incremental read since then,
and a rollback/restore newer than the watermark rebuilds from the
snapshot. min-idempotence makes crash replays trivially safe — folding
the same batch twice is a no-op. The one additive-only caveat: DELETED
rows cannot be un-min'd from a sketch; deletes (not updates of other
rows — those only ADD shingles, which keeps the estimate conservative in
the same direction as any sketch staleness) require a rebuild. A delete
is invisible to the incremental view, so the maintainer cannot detect it
— call ``rebuild()`` after bulk deletes, or run periodic rebuilds if the
table deletes routinely.

State is tiny by contract (G sources × H 32-byte minima), so each fold
collects the merged state to the driver (bounded metadata, like the
centroid codebooks) and republishes it with one atomic JSON PUT — no
parquet generation machinery needed at this size, and the publish is a
single object-store operation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.dedup import group_sketches, sketch_overlap
from .maintainer import locked_fold

__all__ = ["CorpusSketchMaintainer"]


class CorpusSketchMaintainer:
    """Maintains per-``group_col`` MinHash sketches of ``text_col`` for a
    table. Single-writer, like every table service."""

    def __init__(self, table, state_path: str, group_col: str,
                 text_col: str, num_hashes: int = 64, ngram: int = 5,
                 max_groups: int = 4096):
        self.table = table
        self.path = state_path
        self._lock_dir = state_path  # single-maintainer fence (maintainer.py)
        self.group_col = group_col
        self.text_col = text_col
        self.num_hashes = int(num_hashes)
        self.ngram = int(ngram)
        # the driver-side state collect is bounded by the group count —
        # enforce the "groups are data sources, not documents" contract
        self.max_groups = int(max_groups)
        self.fs = table.storage
        st = self._load()
        if st:
            for k in ("num_hashes", "ngram", "group_col", "text_col"):
                if st[k] != getattr(self, k):
                    raise ValueError(
                        f"sketch state at {self.path} was built with "
                        f"{k}={st[k]!r}, got {getattr(self, k)!r}")

    # ----------------------------------------------------------- state io
    @property
    def _state_file(self) -> str:
        return os.path.join(self.path, "sketches.json")

    def _load(self) -> dict | None:
        raw = self.fs.read_bytes(self._state_file)
        return None if raw is None else json.loads(raw)

    def _publish(self, sketches: dict[str, list[str]],
                 instant: str | None) -> None:
        from .. import storage

        if len(sketches) > self.max_groups:
            raise ValueError(
                f"{len(sketches)} groups exceeds max_groups="
                f"{self.max_groups} — {self.group_col} does not look like "
                "a bounded source column")
        self.fs.makedirs(self.path)
        storage.ATOMIC.put_atomic(self._state_file, json.dumps({
            "instant": instant, "group_col": self.group_col,
            "text_col": self.text_col, "num_hashes": self.num_hashes,
            "ngram": self.ngram, "sketches": sketches}).encode())

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
        st = self._load()
        merged = self._merge(st["sketches"] if st else {},
                             self._batch_sketches(batch))
        if instant is None:
            last = self.table.timeline.last_completed()
            instant = last.timestamp if last else None
        self._publish(merged, instant)

    @locked_fold
    def rebuild(self) -> int:
        """Re-sketch the table's current snapshot (after deletes, or a
        rollback/restore past the watermark)."""
        current = self.table.snapshot().select(self.group_col,
                                               self.text_col)
        last = self.table.timeline.last_completed()
        self._publish(self._batch_sketches(current),
                      last.timestamp if last else None)
        return current.count()

    @locked_fold
    def catch_up(self) -> int:
        """Fold every table change since the watermark. Returns delta
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
                self._publish({}, None)
            return 0
        delta = self.table.incremental(begin=mark,
                                       end=last.timestamp).select(
            self.group_col, self.text_col)
        n = delta.count()
        if n:
            self.update(delta, instant=last.timestamp)
        else:
            self._publish(st["sketches"] if st else {}, last.timestamp)
        return n

    # --------------------------------------------------------- analytics
    def overlap(self) -> DataFrame:
        """Pairwise estimated Jaccard between sources, straight from the
        G×H state — no corpus scan. Bit-identical to
        ``corpus_overlap_minhash`` over everything folded so far."""
        st = self._load() or {"sketches": {}}
        sk = st["sketches"]
        spark = self.table.spark
        rows = [tuple([g] + sig) for g, sig in sorted(sk.items())]
        cols = "__g string, " + ", ".join(
            f"__h{i} string" for i in range(self.num_hashes))
        sigs = local_frame(spark, rows, cols)
        return sketch_overlap(sigs, self.num_hashes)

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
        from ..functions.dedup import sketch_distinct_estimate

        st = self._load() or {"sketches": {}}
        rows = [tuple([g] + sig) for g, sig in sorted(st["sketches"].items())]
        cols = "__g string, " + ", ".join(
            f"__h{i} string" for i in range(self.num_hashes))
        sigs = local_frame(self.table.spark, rows, cols)
        return sigs.select(
            F.col("__g").alias(self.group_col),
            sketch_distinct_estimate(self.num_hashes)
            .alias("est_distinct"))

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook (``index_maintainers=[...]`` accepts
        anything with on_commit — the list is really 'post-commit
        maintainers')."""
        return self.catch_up()
