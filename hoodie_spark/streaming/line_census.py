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
regardless of line length — in the generation store. Each
fold writes the merged census as the NEXT generation, and the generation
pointer and the watermark publish in ONE atomic write: a crash mid-fold
leaves the old census AND the old watermark, so the refold recomputes
from consistent state (counts are not replay-idempotent on their own, so
this atomicity is what makes catch_up exactly-once).

Append-only contract: the census counts every ingested row once, which
matches the dedup family's insert-only ingest shape (IncrementalDeduper
admits unseen keys, the table takes inserts). Updates would re-count
the new text version without un-counting the old; rollback/restore past
the watermark can't "un-sum", so ``catch_up`` rebuilds from the table's
current content.

100 TB story: each fold scans ONLY the arriving batch (posexplode →
one map-side-combinable count per line hash) and merges it with the
stored census by one hash-keyed aggregate — both sides partition by
``lhash``, a billion-occurrence boilerplate line ships one row per map
task, and state reads are O(distinct lines), never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .maintainer import MaintainedState, locked_fold

__all__ = ["LineCensusMaintainer"]


class LineCensusMaintainer(MaintainedState):
    """Maintained per-line occurrence census over a table's text column."""

    SUBS = FLAT = ("census",)
    KIND = "line census"
    PARAMS = ("max_df",)

    def __init__(self, table, state_path: str, id_col: str, text_col: str,
                 max_df: int = 1):
        if max_df < 1:
            raise ValueError(f"max_df must be ≥ 1, got {max_df}")
        self.id_col = id_col
        self.text_col = text_col
        self.max_df = max_df
        super().__init__(table, state_path)

    def census(self) -> DataFrame:
        """The current census: (lhash, n), one row per distinct line.

        Reads ONLY the generation the pointer names. An on-disk generation
        the pointer does not name is a crashed fold's partial output —
        counts are a SUM (not replay-idempotent), so merging it with the
        retried fold's replay would double-count; it stays invisible and
        is overwritten by the retry."""
        return self.store.read("census", "lhash string, n bigint")

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
        of distinct lines tracked. The merged census is written as the
        next generation and one atomic publish swaps the pointer AND the
        watermark together."""
        merged = (self._batch_census(df, self.text_col)
                  .unionByName(self.census())
                  .groupBy("lhash").agg(F.sum("n").alias("n")))
        return self._write_next(
            {"census": merged},
            instant=self._watermark() if instant is None else instant)

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
    # catch_up/rebuild are inherited and report the census size; a
    # rebuild folds the snapshot into an emptied generation (a sum cannot
    # un-count removed rows)
    def _columns(self) -> tuple[str, ...]:
        return (self.id_col, self.text_col)

    _fold = fold

    def _result(self, n: int) -> int:
        return self.census().count()
