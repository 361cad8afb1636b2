"""Cross-document line census as maintained streaming state — the
incremental half of the C4/CCNet boilerplate-line filter
(:func:`~hoodie_spark.functions.dedup.line_dedup`).

A crawl pipeline cannot re-scan 100 TB to re-count boilerplate every
batch. Per-line occurrence counts are a SUM monoid, so the census is
maintainable exactly:

    census(batches 1..n) == census(union of batches)

bit-for-bit, for any batch boundaries — that equivalence is the oracle
contract (q:line_census_incremental). ``boilerplate()`` exposes the
over-cap lines and ``apply(df)`` filters any frame against the current
census, so the composition ``fold(batch); apply(batch)`` is the online
CCNet filter: each batch is cleaned against everything seen so far,
including itself. (Early documents keep lines that only LATER crossed
the cap — the same documented online-vs-batch gap as SplitMaintainer's
late bridges; ``apply`` over the stored corpus after the fact, or a
re-filter job, gives the batch-exact result because the census itself
is always exact.)

State is the census: one ``(lhash, n)`` parquet per generation —
md5 of the raw line, not the line text, so state rows are fixed-width
regardless of line length — pointer-swapped atomically via
``state.json`` (the house generation layout). Folds run under the
single-maintainer lock; the watermark gates ``catch_up`` replays, and
the generation pointer + watermark publish in ONE atomic write, so a
crash mid-fold leaves the old census AND the old watermark — the refold
recomputes from consistent state (counts are not replay-idempotent on
their own, so this atomicity is what makes catch_up exactly-once).

Append-only contract: the census counts every ingested row once, which
matches the dedup family's insert-only ingest shape (IncrementalDeduper
admits unseen keys, the table takes inserts). Updates would re-count
the new text version without un-counting the old; rollback/restore past
the watermark can't "un-sum" — both are handled the house way:
``catch_up`` detects rollback/restore instants past the watermark and
triggers ``rebuild()`` from the table's current content.

100 TB story: each fold scans ONLY the arriving batch (posexplode →
one map-side-combinable count per line hash) and merges it with the
stored census by one hash-keyed aggregate — both sides partition by
``lhash``, a billion-occurrence boilerplate line ships one row per map
task, and state reads are O(distinct lines), never O(corpus).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from .maintainer import locked_fold

__all__ = ["LineCensusMaintainer"]


class LineCensusMaintainer:
    """Maintained per-line occurrence census over a table's text column."""

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 max_df: int = 1):
        if max_df < 1:
            raise ValueError(f"max_df must be ≥ 1, got {max_df}")
        self.table = table
        self.path = state_path
        self.id_col = id_col
        self.text_col = text_col
        self.max_df = max_df
        self.fs = table.storage
        self._lock_dir = state_path  # single-maintainer fence
        st = self._load()
        if st and st.get("max_df") != max_df:
            raise ValueError(
                f"line census at {self.path} was built with "
                f"max_df={st.get('max_df')!r}, got {max_df!r}")
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
        storage.ATOMIC.put_atomic(
            self._state_file,
            json.dumps({"instant": instant, "max_df": self.max_df,
                        "gen": self._gen}).encode())

    def _gen_path(self, g: int) -> str:
        return os.path.join(self.path, "census", f"gen-{g:06d}")

    def census(self) -> DataFrame:
        """The current census: (lhash, n), one row per distinct line.

        Reads ONLY the generation recorded in a published ``state.json``.
        An on-disk generation with no published pointer is a crashed
        fold's partial output — counts are a SUM (not replay-idempotent),
        so merging it with the retried fold's replay would double-count;
        unpublished directories are therefore invisible here and simply
        overwritten by the retry."""
        spark = self.table.spark
        schema = "lhash string, n bigint"
        st = self._load()
        if st is None:
            return local_frame(spark, [], schema)
        p = self._gen_path(st.get("gen", 0))
        entries = [] if not self.fs.exists(p) else self.fs.listdir(p)
        files = [e for e in entries if e.endswith(".parquet")]
        if not files:
            return local_frame(spark, [], schema)
        return (spark.read.schema(schema)
                .parquet(*[os.path.join(p, e) for e in files]))

    def boilerplate(self) -> DataFrame:
        """Line hashes over the cap: (lhash, n) with n > max_df."""
        return self.census().filter(F.col("n") > self.max_df)

    # ------------------------------------------------------------- folds
    @staticmethod
    def _batch_census(df: DataFrame, text_col: str) -> DataFrame:
        return (df.select(F.explode(F.split(F.col(text_col), "\n"))
                          .alias("__ln"))
                .groupBy(F.md5("__ln").alias("lhash"))
                .agg(F.count(F.lit(1)).alias("n")))

    @locked_fold
    def fold(self, df: DataFrame, instant: str | None = None) -> int:
        """Fold a batch's line counts into the census; returns the number
        of distinct lines tracked. Crash-safe: the new generation is
        written fully before one atomic ``state.json`` publish swaps the
        pointer AND the watermark together — and the target generation is
        never one ``census()`` could read (PUBLISHED+1, or gen-0 while
        nothing is published), so a crash between the parquet write and
        the publish leaves orphan files the retry overwrites rather than
        a partial census the retry would double-count."""
        st = self._load()
        merged = (self._batch_census(df, self.text_col)
                  .unionByName(self.census())
                  .groupBy("lhash").agg(F.sum("n").alias("n")))
        new_g = st.get("gen", 0) + 1 if st is not None else 0
        merged.write.mode("overwrite").parquet(self._gen_path(new_g))
        self._gen = new_g
        self._publish(instant if instant is not None
                      else (st or {}).get("instant"))
        self._sweep_stale()
        return self.census().count()

    def _sweep_stale(self) -> None:
        base = os.path.join(self.path, "census")
        if not self.fs.exists(base):
            return
        keep = f"gen-{self._gen:06d}"
        for e in self.fs.listdir(base):
            if e != keep:
                self.fs.rmtree(os.path.join(base, e))

    # -------------------------------------------------------------- apply
    def apply(self, df: DataFrame) -> DataFrame:
        """Filter ``df`` against the CURRENT census: drop every line whose
        accumulated count exceeds ``max_df``, reassemble texts in original
        order (same output shape as the batch
        :func:`~hoodie_spark.functions.dedup.line_dedup`: one row per
        input doc, all-boilerplate docs become empty strings). The drop
        is a left-anti join against only the over-cap hashes."""
        lines = df.select(
            F.col(self.id_col),
            F.posexplode(F.split(F.col(self.text_col), "\n"))
            .alias("__pos", "__ln"))
        kept = (lines.withColumn("lhash", F.md5("__ln"))
                .join(self.boilerplate().select("lhash"),
                      "lhash", "left_anti"))
        body = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__ln"))),
                lambda s: s["__ln"]), "\n")
        rebuilt = kept.groupBy(self.id_col).agg(body.alias("__t"))
        return (df.select(self.id_col).join(rebuilt, self.id_col, "left")
                .select(F.col(self.id_col),
                        F.coalesce(F.col("__t"), F.lit(""))
                        .alias(self.text_col)))

    # ----------------------------------------------------------- catch-up
    @locked_fold
    def catch_up(self) -> int:
        """Fold every table row that arrived since the watermark; rebuild
        if a rollback/restore moved history out from under the census."""
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
        if delta.limit(1).count():
            self.fold(delta, instant=last.timestamp)
        else:
            self._publish(last.timestamp)
        return self.census().count()

    @locked_fold
    def rebuild(self) -> int:
        """Re-derive the census from the table's current content (after
        rollback/restore: a sum cannot un-count removed rows). Writes the
        fresh census directly — not through :meth:`fold`, which would
        merge the still-published stale census back in."""
        last = self.table.timeline.last_completed()
        st = self._load()
        new_g = st.get("gen", 0) + 1 if st is not None else 0
        if last is None:
            fresh = local_frame(
                self.table.spark, [], "lhash string, n bigint")
        else:
            fresh = self._batch_census(
                self.table.snapshot(as_of=last.timestamp)
                .select(self.id_col, self.text_col), self.text_col)
        fresh.write.mode("overwrite").parquet(self._gen_path(new_g))
        self._gen = new_g
        self._publish(None if last is None else last.timestamp)
        self._sweep_stale()
        return self.census().count()

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook."""
        return self.catch_up()
