"""Maintained sidecar state: the one protocol every streaming maintainer
follows to keep derived state in step with a table's timeline.

Reference parity: the metadata-table writer catches up from its last
synced instant and DeltaStreamer keeps its checkpoint in commit metadata
(hudi-client-common .../metadata/HoodieBackedTableMetadataWriter.java,
hudi-utilities .../deltastreamer/DeltaSync.java). Here the same protocol
is implemented once, in :class:`MaintainedState`; each maintainer keeps
only its own fold, rebuild and analytics.

Layout
------
A state directory holds one JSON POINTER (``state.json``; the drift,
sketch and ANN maintainers name it ``histogram.json``, ``sketches.json``
and ``_watermark.json``) and zero or more parquet SUB-STORES. The pointer
records:

- ``instant`` — the watermark: the last completed table instant folded;
- the maintainer's parameters, checked on every open (a state built with
  other parameters is an error, never silently mixed);
- the id/key Spark type captured from the first batch, where the state
  schema depends on it;
- the live GENERATION of every sub-store: ``gens: {sub: n}``, or
  ``gen: n`` for a single-store maintainer.

Each sub-store lives under ``<sub>/gen-NNNNNN/``: bucket-partitioned
(``bucket=k/`` dirs, read by explicit bucket dirs so stray entries never
break partition discovery) or flat parquet files. Folds either APPEND
into the live generation (EXISTS-semantics stores, where a duplicate row
is harmless) or write the whole next generation (compaction, and the
replace-per-fold census and reservoir). A generation pointer of ``None``
is the pre-generation LEGACY layout: data directly under ``<sub>/``,
still readable and appendable; the next compaction migrates it into
``gen-000000``. A legacy compaction crash (live dir moved to ``.old``,
folded copy at ``.compacting``) is repaired on first access.

Crash contract
--------------
The pointer publish (one ``AtomicStorage.put_atomic``) is the only commit
point, and the watermark and the generation pointers move in that same
write. So a crash leaves either the old pointer — a new generation is
unreferenced garbage, overwritten by the retry and swept after the next
successful swap; appends past the watermark are replayed by ``catch_up``
— or the new pointer, whose superseded generations the sweep removes. A
crash mid-sweep is harmless: only the generation the pointer names is
ever read. No directory is ever renamed, so the same code runs on S3/GCS.

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
import json
import logging
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import storage
from .. import timeline as tl
from ..frames import local_frame
from ..timeline import LockProvider

__all__ = ["ConcurrentMaintainerError", "maintainer_lock", "locked_fold",
           "GenerationStore", "MaintainedState", "bucket_of"]

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


def _gen_dir(g: int) -> str:
    return f"gen-{g:06d}"


def bucket_of(col, n_buckets: int):
    """The ``bucket`` partition a bucketed sub-store files the key column
    ``col`` (a name or Column) under."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class GenerationStore:
    """One state directory: the atomically published pointer plus the
    generation sub-stores it names (see the module docstring).

    ``gens`` is the working pointer: equal to the published one except
    inside a fold that has moved a sub-store to a fresh generation and
    not yet published."""

    def __init__(self, spark, fs, path: str, pointer: str,
                 subs: tuple[str, ...] = (), flat: tuple[str, ...] = ()):
        self.spark = spark
        self.fs = fs
        self.path = path
        self.pointer = os.path.join(path, pointer)
        self.subs = subs
        self.flat = flat  # sub-stores of plain parquet files, no buckets
        self.gens: dict[str, int | None] = {}

    # ------------------------------------------------------------ pointer
    def load(self) -> dict | None:
        """The published pointer, or None when nothing was published."""
        raw = self.fs.read_bytes(self.pointer)
        return None if raw is None else json.loads(raw)

    def open(self) -> dict | None:
        """Load the pointer and adopt its generations. A fresh multi-store
        state starts at generation 0; a pointer without ``gens`` is the
        legacy flat layout; a single store has no generation until its
        first write."""
        st = self.load()
        if len(self.subs) == 1:
            self.gens = {self.subs[0]: st.get("gen") if st else None}
        elif st is None:
            self.gens = {s: 0 for s in self.subs}
        else:
            self.gens = dict(st.get("gens", {s: None for s in self.subs}))
        return st

    def publish(self, payload: dict) -> None:
        """Atomically replace the pointer with ``payload`` plus the working
        generations — the one commit point of every fold."""
        if len(self.subs) == 1:
            g = self.gens[self.subs[0]]
            if g is not None:
                payload = {**payload, "gen": g}
        elif self.subs:
            payload = {**payload, "gens": dict(self.gens)}
        self.fs.makedirs(self.path)
        storage.ATOMIC.put_atomic(self.pointer, json.dumps(payload).encode())

    # -------------------------------------------------------- generations
    def live(self, sub: str) -> str:
        """Directory of ``sub``'s working generation (the flat legacy dir
        when its pointer is None)."""
        g = self.gens[sub]
        base = os.path.join(self.path, sub)
        return base if g is None else os.path.join(base, _gen_dir(g))

    def next_gen(self, sub: str) -> int:
        g = self.gens[sub]
        return 0 if g is None else g + 1

    def read(self, sub: str, schema: str) -> DataFrame:
        """``sub``'s working generation with an explicit schema; bucketed
        stores add the ``bucket int`` partition column."""
        self._recover_legacy(sub)
        d = self.live(sub)
        entries = self.fs.listdir(d)
        if sub in self.flat:
            files = [os.path.join(d, e) for e in entries
                     if e.endswith(".parquet")]
            if not files:
                return local_frame(self.spark, [], schema)
            return self.spark.read.schema(schema).parquet(*files)
        schema = f"{schema}, bucket int"
        parts = [os.path.join(d, e) for e in entries
                 if e.startswith("bucket=")]
        if not parts:
            return local_frame(self.spark, [], schema)
        return (self.spark.read.schema(schema).option("basePath", d)
                .parquet(*parts))

    def append(self, sub: str, frame: DataFrame) -> None:
        """Append ``frame`` into ``sub``'s working generation; visible to
        reads at once, committed by the next publish."""
        self._recover_legacy(sub)
        w = frame.write.mode("append")
        if sub not in self.flat:
            w = w.partitionBy("bucket")
        w.parquet(self.live(sub))

    def write_next(self, sub: str, frame: DataFrame) -> int:
        """Write ``frame`` as ``sub``'s next generation (overwriting a
        crashed attempt's partial copy) and return its row count, observed
        inside the write job so the frame is evaluated once. The pointer
        does not move until the caller sets ``gens`` and publishes."""
        obs = Observation()
        frame = frame.observe(obs, F.count(F.lit(1)).alias("n"))
        dst = os.path.join(self.path, sub, _gen_dir(self.next_gen(sub)))
        if sub in self.flat:
            frame.write.mode("overwrite").parquet(dst)
        else:
            (frame.repartition(F.col("bucket"))
             .write.partitionBy("bucket").mode("overwrite").parquet(dst))
        return obs.get["n"]

    def fresh(self) -> None:
        """Move every sub-store to its next generation, emptied: the
        destination may hold a crashed write's copy of the old state."""
        for sub in self.subs:
            self.gens[sub] = self.next_gen(sub)
            self.fs.rmtree(self.live(sub))

    def sweep(self) -> None:
        """Best-effort removal of everything the pointer does not name:
        superseded generations, legacy flat bucket dirs and legacy crash
        siblings."""
        for sub in self.subs:
            g = self.gens[sub]
            if g is None:
                continue  # legacy layout: the flat dir IS the live state
            base = os.path.join(self.path, sub)
            for e in self.fs.listdir(base):
                if e == _gen_dir(g):
                    continue
                p = os.path.join(base, e)
                self.fs.rmtree(p)
                if self.fs.exists(p):  # plain file (_SUCCESS etc.)
                    try:
                        self.fs.remove(p)
                    except OSError:
                        pass
            for suffix in (".old", ".compacting"):
                self.fs.rmtree(base + suffix)

    def _recover_legacy(self, sub: str) -> None:
        """Repair a LEGACY-layout compaction crash: the old two-step
        directory swap could leave the live dir missing with the complete
        folded copy at .compacting and the pre-compaction data at .old."""
        if self.gens[sub] is not None:
            return
        d = os.path.join(self.path, sub)
        if self.fs.listdir(d):
            return
        if self.fs.listdir(d + ".compacting") and self.fs.listdir(d + ".old"):
            # .compacting was only ever swapped in AFTER its write completed
            self.fs.rename(d + ".compacting", d)
            self.fs.rmtree(d + ".old")
        elif self.fs.listdir(d + ".old"):
            self.fs.rename(d + ".old", d)


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

    def _publish(self, **fields) -> None:
        """Publish the pointer: ``fields`` over the published pointer (so
        fields not given keep their value), plus the parameters, the id
        type and the working generations."""
        payload = {**self._state(), **self._fields(), **fields,
                   **{k: getattr(self, k) for k in self.PARAMS}}
        if self._id_type is not None:
            payload[self.ID_KEY] = self._id_type
        self.store.publish(payload)

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
        total = sum(self.store.write_next(sub, f) for sub, f in folded.items())
        for sub in folded:
            self.store.gens[sub] = self.store.next_gen(sub)
        self._publish(**fields)
        self.store.sweep()
        return total

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
