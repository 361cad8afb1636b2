"""ANN index as a maintained table service: keep a persisted IVF or
IVF-PQ index (functions/similarity.write_ivf_index /
write_ivfpq_index layouts) in step with a hoodie_spark table as the
table ingests — the serving-side sibling of
:class:`~hoodie_spark.streaming.incremental_dedup.IncrementalDeduper`.

Reference parity: the reference keeps query-side structures current via
table services on the timeline (compaction/clustering planned off
completed instants); this applies the same watermark + catch-up
contract to the vector-index sidecar a retrieval pipeline serves from.

Consistency contract
--------------------
* The watermark (last indexed table instant) lives in
  ``_watermark.json`` INSIDE the index directory — the underscore
  prefix makes it invisible to the parquet reader — and follows
  maintainer.py's catch-up protocol.
* ``catch_up()`` folds the table's OWN incremental view since the
  watermark in as DELETE-then-APPEND: updated
  vectors move lists instead of shadowing their stale version, and a
  crash between the fold and the watermark publish simply replays the
  same delta — the delete pass removes the half-applied copy first, so
  replays CONVERGE (content idempotence, not just at-least-once).
* A rollback/restore newer than the watermark invalidates indexed rows
  the incremental view can no longer explain; the maintainer rebuilds
  the index from the table's current snapshot (O(table), rollback is a
  rare operator action).
* Work per sync is delta-sized: one broadcast semi-join bounded by the
  delta's ids (the delete), one assignment map pass + append write.
  Small files fold via ``compact_every`` using the layout-agnostic
  :func:`~hoodie_spark.functions.similarity.compact_ivf_index`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import (append_ivf_index, append_ivfpq_index,
                                    compact_ivf_index,
                                    delete_from_ivf_index, write_ivf_index,
                                    write_ivfpq_index)
from .maintainer import MaintainedState

__all__ = ["IvfIndexMaintainer"]


class IvfIndexMaintainer(MaintainedState):
    """Keeps a persisted IVF (or IVF-PQ when ``books`` is given) index in
    step with ``table``. Single-writer, like every table service: run it
    from the ingest pipeline (``Ingestor(index_maintainers=[...])``) or
    the async-services seat, never from two drivers at once."""

    POINTER = "_watermark.json"
    KIND = "ANN index"

    def __init__(self, table, index_path: str, centroids: DataFrame,
                 id_col: str, vec_col: str, books=None,
                 compact_every: int = 0, track_deletes: bool = False):
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col
        self.books = books
        self.compact_every = int(compact_every or 0)
        # plain incremental reads carry no tombstones, so a table DELETE
        # leaves its vector in the index until the next rebuild — fine
        # for append/upsert ingest pipelines. For delete-heavy tables set
        # track_deletes=True: catch_up then reads the CDC-format view
        # (op i/u/d with before/after images) and removes deleted ids in
        # the same delta-sized pass. CDC inherits its retention
        # constraint: the cleaner must still hold the pre-image slices
        # (loud failure otherwise, same as time travel).
        self.track_deletes = bool(track_deletes)
        self._syncs = 0
        super().__init__(table, index_path)

    # --------------------------------------------------------------- folds
    def _apply(self, touched: DataFrame, upserts: DataFrame) -> None:
        """DELETE-then-APPEND: moves updated vectors to their new list and
        makes crash replays of a delta converge."""
        spark = self.table.spark
        delete_from_ivf_index(spark, self.path, touched, self.id_col)
        if self.books is None:
            append_ivf_index(upserts, self.centroids, self.id_col,
                             self.vec_col, self.path)
        else:
            append_ivfpq_index(upserts, self.centroids, self.books,
                               self.id_col, self.vec_col, self.path)
        self._syncs += 1
        if self.compact_every and self._syncs % self.compact_every == 0:
            compact_ivf_index(spark, self.path)

    def _columns(self) -> tuple[str, ...]:
        return (self.id_col, self.vec_col)

    def _fold(self, delta: DataFrame, instant: str) -> None:
        self._apply(delta.select(self.id_col), delta)
        self._publish(instant=instant)

    def _rebuild(self, snap, instant) -> int:
        if snap is not None:
            if self.books is None:
                write_ivf_index(snap, self.centroids, self.id_col,
                                self.vec_col, self.path)
            else:
                write_ivfpq_index(snap, self.centroids, self.books,
                                  self.id_col, self.vec_col, self.path)
        self._publish(instant=instant)
        return 0 if snap is None else snap.count()

    def _fold_since(self, mark: str | None, last: str) -> int:
        if not any(e.startswith("centroid=")
                   for e in self.fs.listdir(self.path)):
            # no inverted lists yet — first sync of a pre-existing table,
            # or the table was empty when the watermark was first
            # published (the dir holds only _watermark.json, which the
            # delta fold's index read could not even schema-infer):
            # build everything once from the snapshot
            return self.rebuild()
        if not self.track_deletes:
            return super()._fold_since(mark, last)
        ev = self.table.incremental_cdc(begin=mark, end=last)
        # a key touched by several in-range commits appears once per
        # commit — only its LATEST event decides index membership
        latest = Window.partitionBy("_hoodie_record_key").orderBy(
            F.col("ts").desc())
        ev = (ev.withColumn("__rn", F.row_number().over(latest))
              .filter(F.col("__rn") == 1))
        gone = ev.filter(F.col("op") == "d").select(
            F.col(f"before.{self.id_col}").alias(self.id_col))
        upserts = (ev.filter(F.col("op") != "d")
                   .select(F.col(f"after.{self.id_col}").alias(self.id_col),
                           F.col(f"after.{self.vec_col}")
                           .alias(self.vec_col)))
        touched = upserts.select(self.id_col).unionByName(gone)
        n = touched.count()
        if n:
            self._apply(touched, upserts)
        self._publish(instant=last)
        return n
