"""Maintained sidecar state: the one protocol every streaming maintainer
follows to keep derived state in step with a table's timeline.

Reference parity: the metadata-table writer catches up from its last
synced instant and DeltaStreamer keeps its checkpoint in commit metadata
(hudi-client-common .../metadata/HoodieBackedTableMetadataWriter.java,
hudi-utilities .../deltastreamer/DeltaSync.java). Here the same protocol
is implemented once, in :class:`MaintainedState`; each maintainer keeps
only its own fold, rebuild and analytics.

State
-----
A state directory is a :class:`~hoodie_spark.generation_store.GenerationStore`
(its docstring gives the layout and the crash contract). The pointer is
``state.json``; the drift, sketch and ANN maintainers name it
``histogram.json``, ``sketches.json`` and ``_watermark.json``. Next to the
live generations it records:

- ``instant`` — the watermark: the last completed table instant folded;
  it moves in the same publish as the generations, and appends past it
  are replayed by ``catch_up``;
- the maintainer's parameters, checked on every open (a state built with
  other parameters is an error, never silently mixed);
- the id/key Spark type captured from the first batch, where the state
  schema depends on it.

Single maintainer
-----------------
The table WRITE path is multi-writer via OCC; maintained states are
SINGLE-maintainer by contract (read-modify-write publishes with no
conflict-resolution story). Every fold runs inside a create-if-absent
lock on the state directory (:func:`maintainer_lock`, the same
``timeline.LockProvider`` mechanics as the table lock, including stale-
holder reclamation). Fail-fast by design: a contended lock means a second
LIVE scheduler is misconfigured; queuing behind it would hide that.
"""

from __future__ import annotations

import functools
import logging
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame

from .. import timeline as tl
from ..generation_store import GenerationStore
from ..timeline import LockProvider

__all__ = ["ConcurrentMaintainerError", "maintainer_lock", "locked_fold",
           "MaintainedState"]

logger = logging.getLogger(__name__)


class ConcurrentMaintainerError(RuntimeError):
    """A second maintainer attempted to fold the same state directory."""


@contextmanager
def maintainer_lock(fs, state_path: str, timeout_s: float = 5.0,
                    expiry_s: float = 600.0):
    """Exclusive fold section for one maintained-state directory.

    ``fs`` is the owning table's storage (used only to ensure the lock's
    parent dir exists); the lock itself goes through the AtomicStorage
    seam like every other conditional create."""
    fs.makedirs(os.path.join(state_path, ".hoodie"))
    lp = LockProvider(state_path, timeout_s=timeout_s, expiry_s=expiry_s)
    try:
        lp.__enter__()
    except TimeoutError as e:
        raise ConcurrentMaintainerError(
            f"another maintainer holds {state_path} — maintained states "
            "are single-maintainer by contract; run one scheduler per "
            "state directory") from e
    try:
        yield
    finally:
        lp.__exit__(None, None, None)


def locked_fold(method):
    """Decorator: run a maintainer's state-mutating method inside
    :func:`maintainer_lock` on the instance's ``path``.

    Re-entrant per INSTANCE (catch_up → rebuild/advance chains take the
    lock once), which is exactly the contract's grain: the guard exists
    to make a second maintainer OBJECT (another process or another
    scheduler in this process) fail cleanly, not to serialize calls on
    the one legitimate instance."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        if getattr(self, "_fold_lock_held", False):
            return method(self, *args, **kwargs)
        with maintainer_lock(self.fs, self.path):
            self._fold_lock_held = True
            try:
                return method(self, *args, **kwargs)
            finally:
                self._fold_lock_held = False
    return wrapper


class MaintainedState:
    """Base of the streaming maintainers: pointer, parameter check, id-type
    capture, generation store and the catch-up loop.

    A subclass sets its attributes, then calls ``super().__init__``, and
    declares:

    - ``POINTER``, ``SUBS`` (``FLAT`` for the unbucketed ones), ``KIND``
      (the error-message label) and ``PARAMS`` (attributes recorded in the
      pointer and checked on open);
    - ``ID_COL``: the attribute naming the column whose Spark type is
      captured (``ID_KEY`` in the pointer; ``LEGACY_ID_TYPE`` is assumed
      for pointers written before the key existed);
    - for :meth:`catch_up`: ``_columns`` (the table columns it folds) and
      ``_fold(delta, instant)``, which folds a batch and publishes.
    """

    POINTER = "state.json"
    SUBS: tuple[str, ...] = ()
    FLAT: tuple[str, ...] = ()
    KIND = "maintained"
    PARAMS: tuple[str, ...] = ()
    ID_COL: str | None = None
    ID_KEY = "id_type"
    LEGACY_ID_TYPE: str | None = None

    def __init__(self, table, path: str):
        self.table = table
        self.path = path
        self.fs = table.storage
        self.store = GenerationStore(table.spark, self.fs, path,
                                     self.POINTER, self.SUBS, self.FLAT)
        st = self.store.open()
        for k in self.PARAMS:
            if st and st.get(k) != getattr(self, k):
                raise ValueError(
                    f"{self.KIND} state at {path} was built with "
                    f"{k}={st.get(k)!r}, got {getattr(self, k)!r}")
        self._id_type: str | None = (
            st.get(self.ID_KEY, self.LEGACY_ID_TYPE) if st else None)

    # ------------------------------------------------------------ pointer
    def _empty_state(self) -> dict:
        """Pointer fields of a state that has folded nothing."""
        return {}

    def _fields(self) -> dict:
        """Pointer fields the instance tracks in memory."""
        return {}

    def _state(self) -> dict:
        """The published pointer, or the empty state's."""
        return self.store.load() or self._empty_state()

    def _payload(self, **fields) -> dict:
        """Pointer fields to publish: ``fields`` over the published pointer
        (so fields not given keep their value), plus the parameters and
        the id type; the store adds the working generations."""
        payload = {**self._state(), **self._fields(), **fields,
                   **{k: getattr(self, k) for k in self.PARAMS}}
        if self._id_type is not None:
            payload[self.ID_KEY] = self._id_type
        return payload

    def _publish(self, **fields) -> None:
        self.store.publish(self._payload(**fields))

    def _watermark(self) -> str | None:
        return self._state().get("instant")

    def _resolve_id_type(self, df: DataFrame | None = None) -> str:
        """The Spark type of ids: captured from the first batch, recorded
        in the pointer, enforced on every later batch (state schemas are
        derived from it, so a corpus cannot mix id types mid-stream)."""
        if df is not None:
            col = getattr(self, self.ID_COL)
            t = df.schema[col].dataType.simpleString()
            if self._id_type is None:
                self._id_type = t
            elif t != self._id_type:
                noun = self.ID_KEY.removesuffix("_type")
                raise ValueError(
                    f"{self.KIND} state at {self.path} holds "
                    f"{self._id_type} {noun}s; batch {col} is {t}")
        return self._id_type or "bigint"

    def _write_next(self, folded: dict[str, DataFrame], **fields) -> int:
        """Write each sub-store's ``folded`` copy as its next generation,
        swap the pointer (with ``fields``) and sweep; returns rows
        written."""
        return self.store.replace(folded, self._payload(**fields))

    # ----------------------------------------------------------- catch-up
    def _columns(self) -> tuple[str, ...]:
        raise NotImplementedError(
            f"{type(self).__name__} does not follow the table's timeline")

    def _fold(self, delta: DataFrame, instant: str) -> None:
        raise NotImplementedError(
            f"{type(self).__name__} does not follow the table's timeline")

    def _result(self, n: int) -> int:
        """What catch_up and rebuild report after folding ``n`` rows."""
        return n

    @locked_fold
    def catch_up(self) -> int:
        """Fold every table change since the watermark; rebuild from the
        table if a rollback/restore moved history past it. Returns the
        rows folded (snapshot rows on a rebuild); 0 when up to date."""
        st = self.store.load()
        mark = st.get("instant") if st else None
        if mark is not None and any(
                i.timestamp > mark for i in self.table.timeline.completed(
                    (tl.ROLLBACK, tl.RESTORE))):
            logger.warning("%s state at %s invalidated by rollback/restore"
                           " — rebuilding from the table", self.KIND,
                           self.path)
            return self.rebuild()
        last = self.table.timeline.last_completed()
        if last is None or (mark is not None and last.timestamp <= mark):
            if st is None:
                self._publish(instant=None)
            return 0
        return self._fold_since(mark, last.timestamp)

    def _fold_since(self, mark: str | None, last: str) -> int:
        """Fold the table's incremental read (mark, last] — bounded at the
        captured ``last`` so a commit landing meanwhile is the next delta,
        never folded twice."""
        delta = self.table.incremental(begin=mark, end=last) \
            .select(*self._columns())
        n = delta.count()
        if n:
            self._fold(delta, last)
        else:
            self._publish(instant=last)
        return self._result(n)

    @locked_fold
    def rebuild(self) -> int:
        """Re-derive the state from the table's current content into fresh
        generations. The watermark is captured FIRST and the snapshot read
        as of it: a commit landing in between is then the next delta,
        neither lost nor folded twice."""
        last = self.table.timeline.last_completed()
        instant = last.timestamp if last else None
        snap = None
        if self.table.schema is not None:
            snap = self.table.snapshot(as_of=instant).select(*self._columns())
        self.store.fresh()
        n = self._rebuild(snap, instant)
        self.store.sweep()
        return n

    def _rebuild(self, snap: DataFrame | None, instant: str | None) -> int:
        """Fold the snapshot (None: the table was never written) into the
        emptied state."""
        n = 0 if snap is None else snap.count()
        if n:
            self._fold(snap, instant)
        else:
            self._publish(instant=instant)
        return self._result(n)

    def on_commit(self, batch: DataFrame | None = None,
                  result=None) -> int:
        """Ingestor post-commit hook (``index_maintainers=[...]`` accepts
        any maintainer)."""
        return self.catch_up()
