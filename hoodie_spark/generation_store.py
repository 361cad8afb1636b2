"""Generation store: write-once parquet generations named by one atomically
published pointer — the one state-store layout of the package. The
streaming maintainers (``streaming/maintainer.py``), the record index and
the secondary index keep their state in it.

Reference parity: the metadata table keeps the record index and the
secondary indexes as file groups whose visible version is fixed by one
commit (hudi-common .../metadata/HoodieBackedTableMetadata.java). Here the
commit is the pointer publish.

Layout
------
A store directory ``<path>`` holds the POINTER (``<path>/<pointer>``, a
JSON object) and one directory per SUB-STORE, ``<path>/<sub>/``. The
pointer names the live generation of every sub-store — ``gens: {sub: n}``,
or ``gen: n`` for a single-store state — next to its owner's own fields
(a maintainer's watermark and parameters). A bare JSON number is the
record index's pointer from before the store and reads as ``gen: n``.

Generation ``n`` of ``sub`` lives under ``<path>/<sub>/gen-NNNNNN/``, as
bucket-partitioned (``bucket=k/`` dirs, read by explicit bucket dirs so
stray entries never break partition discovery) or flat parquet files. A
write either APPENDS into the live generation (EXISTS-semantics stores,
where a duplicate row is harmless) or writes the whole next generation
(compaction, and the replace-per-fold census and reservoir).

A generation pointer of ``None`` is the LEGACY layout: the data lies
directly under ``<path>/<sub>/``, still readable and appendable; the next
:meth:`GenerationStore.replace` moves it into ``gen-000000``. A flat
legacy dir is read whole (files and sub-directories, except ``gen-*``
dirs and ``_``/``.`` names), which covers the secondary index's
write-once ``add-*``/``compacted-*`` dirs. A legacy compaction crash
(live dir moved to ``.old``, folded copy at ``.compacting``) is repaired
on first access.

Crash contract
--------------
The pointer publish (one ``AtomicStorage.put_atomic``) is the only commit
point. A crash leaves either the old pointer — a new generation is
unreferenced garbage, overwritten by the retry and swept after the next
successful publish; appends are visible at once and their owner replays
or tolerates them — or the new pointer, whose superseded generations the
sweep removes. A crash mid-sweep is harmless: only the generation the
pointer names is ever read. No directory is ever renamed, so the same
code runs on S3/GCS.

Writers: the store takes no lock. Its owner serializes every write that
can race a :meth:`~GenerationStore.replace` — the maintainers with their
state lock, the table indexes with the table lock.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import storage
from .frames import local_frame

__all__ = ["GenerationStore", "bucket_of"]


def _gen_dir(g: int) -> str:
    return f"gen-{g:06d}"


def bucket_of(col, n_buckets: int):
    """The ``bucket`` partition a bucketed sub-store files the key column
    ``col`` (a name or Column) under."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class GenerationStore:
    """One store directory: the atomically published pointer plus the
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
        if raw is None:
            return None
        st = json.loads(raw)
        return {"gen": st} if isinstance(st, int) else st

    def open(self) -> dict | None:
        """Load the pointer and adopt its generations. A fresh multi-store
        state starts at generation 0; a pointer without ``gens`` is the
        legacy flat layout; a single store has no generation until its
        first :meth:`replace` or :meth:`fresh`."""
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
        generations — the one commit point of every write."""
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
            paths = [os.path.join(d, e) for e in entries
                     if not e.startswith(("_", ".", "gen-"))]
            if not paths:
                return local_frame(self.spark, [], schema)
            return self.spark.read.schema(schema).parquet(*paths)
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
        does not move: :meth:`replace` publishes."""
        obs = Observation()
        frame = frame.observe(obs, F.count(F.lit(1)).alias("n"))
        dst = os.path.join(self.path, sub, _gen_dir(self.next_gen(sub)))
        if sub in self.flat:
            frame.write.mode("overwrite").parquet(dst)
        else:
            (frame.repartition(F.col("bucket"))
             .write.partitionBy("bucket").mode("overwrite").parquet(dst))
        return obs.get["n"]

    def replace(self, frames: dict[str, DataFrame], payload: dict) -> int:
        """Write each sub-store's ``frames`` copy as its next generation,
        publish ``payload`` naming them, then sweep; returns rows
        written."""
        total = sum(self.write_next(sub, f) for sub, f in frames.items())
        for sub in frames:
            self.gens[sub] = self.next_gen(sub)
        self.publish(payload)
        self.sweep()
        return total

    def fresh(self) -> None:
        """Move every sub-store to its next generation, emptied: the
        destination may hold a crashed write's copy of the old state."""
        for sub in self.subs:
            self.gens[sub] = self.next_gen(sub)
            self.fs.rmtree(self.live(sub))

    def sweep(self) -> None:
        """Best-effort removal of everything the pointer does not name:
        superseded generations, legacy flat entries and legacy crash
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
