"""File-system view: which file slices are live as of an instant.

Reference parity: common/table/view/TableFileSystemView.java and
AbstractTableFileSystemView.java (file-group / file-slice model from
common/model/HoodieFileGroup.java:34,144,156 and FileSlice.java:32,47,53).

Spark-first design: instead of listing the filesystem (or running Hudi's
metadata table / timeline server), the view is a pure driver-side fold over
commit metadata already recorded in the timeline — each commit's
``write_stats`` is the manifest of files it added. At 100 TB the fold input
is a few MB of JSON; no O(files) storage listing ever happens.

Fold semantics:
  commit/deltacommit/replacecommit  add base files / log (delta) files
  replacecommit                     also marks file groups replaced
  rollback / restore                exclude target instants entirely
  clean                             physically-deleted slices drop out
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from .timeline import CLEAN, DATA_ACTIONS, LOGCOMPACTION, Timeline


def file_id_of(name):
    """The file-group id a data file's name (a column name or Column)
    carries: the part before the first ``_`` (FSUtils.getFileId)."""
    return F.split(name, "_").getItem(0)


@dataclass
class BaseFile:
    path: str  # relative to table base path (absolute for bootstrap sources)
    file_name: str
    size: int = 0
    num_records: int = 0
    min_key: str | None = None
    max_key: str | None = None
    # metadata-only bootstrap source: no meta columns in the file; the read
    # path computes keys/meta on the fly (HoodieBootstrapRelation equivalent)
    bootstrap: bool = False
    # per-column [min, max] for data skipping (stats_columns config)
    col_stats: dict | None = None


@dataclass
class LogFile:
    path: str
    file_name: str
    instant: str
    size: int = 0
    num_records: int = 0
    # instant of the logcompaction that folded this file into a merged
    # delta; reads as-of >= that instant skip it (the merged delta carries
    # its rows), older time travel still sees it
    compacted_at: str | None = None


@dataclass
class FileSlice:
    """FileSlice.java:32 — one base file + ordered delta (log) files."""

    partition: str
    file_id: str
    base_instant: str
    base_file: BaseFile | None = None
    log_files: list[LogFile] = field(default_factory=list)

    def log_files_as_of(self, as_of: str | None) -> list[LogFile]:
        out = []
        for lf in self.log_files:
            if as_of is not None and lf.instant > as_of:
                continue
            if lf.compacted_at is not None and (
                    as_of is None or as_of >= lf.compacted_at):
                continue  # superseded by a merged delta at compacted_at
            out.append(lf)
        return out

    def total_size(self) -> int:
        return (self.base_file.size if self.base_file else 0) + sum(l.size for l in self.log_files)


@dataclass
class FileGroup:
    """HoodieFileGroup.java:34 — stable file_id, list of slices."""

    partition: str
    file_id: str
    slices: dict[str, FileSlice] = field(default_factory=dict)  # base_instant -> slice
    # every replacecommit that superseded this group, ascending. A group can
    # be RE-CREATED after replacement — stable fids make this routine for
    # bucket-index tables (delete_partition then re-insert, bucket rescale)
    # — so replacement hides only slices written at-or-before the replace
    # instant, never future ones.
    replaced_ats: list[str] = field(default_factory=list)

    def replaced_before(self, as_of: str | None) -> str | None:
        """Latest replacement visible at ``as_of`` (None = now)."""
        cands = [r for r in self.replaced_ats if as_of is None or r <= as_of]
        return max(cands) if cands else None

    @property
    def replaced_at(self) -> str | None:
        return self.replaced_ats[0] if self.replaced_ats else None

    def latest_slice(self, as_of: str | None = None) -> FileSlice | None:
        cands = [s for t, s in self.slices.items() if as_of is None or t <= as_of]
        if not cands:
            return None
        return max(cands, key=lambda s: s.base_instant)

    def is_live(self, as_of: str | None = None) -> bool:
        r = self.replaced_before(as_of)
        if r is None:
            return True
        # a slice AT the replace instant is the replacement's own output
        # (bucket overwrites reuse the fid they supersede), hence >=
        return any((as_of is None or t <= as_of) and t >= r
                   for t in self.slices)


class FileSystemView:
    def __init__(self, timeline: Timeline):
        self.timeline = timeline
        self.base_path = timeline.base_path
        self.groups: dict[tuple[str, str], FileGroup] = {}
        self._build()

    # ------------------------------------------------------------------ fold
    def _build(self) -> None:
        tl = self.timeline
        rolled_back = tl.rolled_back()

        deleted_slices: set[tuple[str, str, str]] = set()
        deleted_logs: set[str] = set()
        for inst in tl.completed((CLEAN,)):
            md = tl.metadata(inst)
            for s in md.get("deleted_slices", []):
                deleted_slices.add((s["partition"], s["file_id"], s["instant"]))
            deleted_logs.update(md.get("deleted_log_files", []))

        compacted_logs: dict[str, str] = {}
        for inst in tl.completed((LOGCOMPACTION,)):
            if inst.timestamp in rolled_back:
                continue
            md = tl.metadata(inst)
            for p in md.get("extra", {}).get("compacted_log_files", []):
                compacted_logs[p] = inst.timestamp

        for inst in tl.completed(DATA_ACTIONS):
            if inst.timestamp in rolled_back:
                continue
            self._apply_data(inst.timestamp, tl.metadata(inst),
                             deleted_slices, deleted_logs, compacted_logs)
        # drop slices that the cleaner fully deleted and ended up empty
        for grp in self.groups.values():
            grp.slices = {t: s for t, s in grp.slices.items()
                          if s.base_file is not None or s.log_files}
        # ANALYZE sidecar overlay (services/stats.py): backfilled column
        # stats merge under the write-time manifest stats, so data
        # skipping works for tables written before stats were configured.
        # One isdir check when no backfill exists.
        from .services.stats import _load_sidecars
        sidecar = _load_sidecars(self.base_path)
        if sidecar:
            for grp in self.groups.values():
                for sl in grp.slices.values():
                    bf = sl.base_file
                    if bf is None:
                        continue
                    extra = sidecar.get(bf.path)
                    if extra:
                        merged = dict(extra)
                        merged.update(bf.col_stats or {})
                        bf.col_stats = merged

    def _apply_data(self, ts: str, md: dict,
                    deleted_slices: set[tuple[str, str, str]] = frozenset(),
                    deleted_logs: set[str] = frozenset(),
                    compacted_logs: dict[str, str] | None = None) -> None:
        for st in md.get("write_stats", []):
            pp, fid = st["partition"], st["file_id"]
            grp = self.groups.setdefault((pp, fid), FileGroup(pp, fid))
            if st.get("is_delta"):
                base_t = st.get("base_instant", ts)
                sl = grp.slices.setdefault(base_t, FileSlice(pp, fid, base_t))
                if (pp, fid, base_t) in deleted_slices or st["path"] in deleted_logs:
                    continue
                sl.log_files.append(
                    LogFile(st["path"], st["file_name"], ts,
                            st.get("size", 0), st.get("num_records", 0),
                            compacted_at=(compacted_logs or {}).get(
                                st["path"])))
            else:
                if (pp, fid, ts) in deleted_slices:
                    continue
                sl = grp.slices.setdefault(ts, FileSlice(pp, fid, ts))
                sl.base_file = BaseFile(st["path"], st["file_name"], st.get("size", 0),
                                        st.get("num_records", 0), st.get("min_key"),
                                        st.get("max_key"),
                                        bootstrap=st.get("bootstrap", False),
                                        col_stats=st.get("col_stats"))
        # ``replaced`` applies to every data action: replacecommits list
        # the file groups they supersede, and ordinary commits list
        # groups whose rewrite produced ZERO rows (full-group delete —
        # without this the old slice would stay latest and resurrect)
        for pp, fids in md.get("replaced", {}).items():
            for fid in fids:
                grp = self.groups.get((pp, fid))
                if grp is not None and ts not in grp.replaced_ats:
                    grp.replaced_ats.append(ts)
                    grp.replaced_ats.sort()

    def apply_pending(self, ts: str, md: dict) -> None:
        """Overlay a not-yet-published commit's metadata on the fold —
        the post-state view pre-commit validators inspect BEFORE the
        instant publishes (readers never see an unvalidated state)."""
        self._apply_data(ts, md)

    # --------------------------------------------------------------- queries
    def latest_slices(self, as_of: str | None = None,
                      partitions: list[str] | None = None) -> list[FileSlice]:
        """Latest live file slice per file group (TableFileSystemView
        getLatestFileSlices), optionally time-travelled / partition-pruned."""
        pset = set(partitions) if partitions is not None else None
        out = []
        for (pp, _fid), grp in sorted(self.groups.items()):
            if pset is not None and pp not in pset:
                continue
            if not grp.is_live(as_of):
                continue
            sl = grp.latest_slice(as_of)
            if sl is not None:
                out.append(sl)
        return out

    def slices_for_groups(self, keys: set[tuple[str, str]],
                          as_of: str | None = None) -> list[FileSlice]:
        out = []
        for key in sorted(keys):
            grp = self.groups.get(key)
            if grp and grp.is_live(as_of):
                sl = grp.latest_slice(as_of)
                if sl is not None:
                    out.append(sl)
        return out

    def live_groups(self, as_of: str | None = None) -> list[tuple[str, str]]:
        """Sorted (partition, file_id) of every file group that is live and
        has a slice as of ``as_of`` — the one live-group rule."""
        return [key for key, grp in sorted(self.groups.items())
                if grp.is_live(as_of) and grp.latest_slice(as_of) is not None]

    def partitions(self, as_of: str | None = None) -> list[str]:
        return sorted({pp for pp, _f in self.live_groups(as_of)})

    def live_group_ids(self, partitions: list[str] | None = None,
                       as_of: str | None = None) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for pp, fid in self.live_groups(as_of):
            if partitions is None or pp in partitions:
                out.setdefault(pp, []).append(fid)
        return out

    def abs(self, rel_path: str) -> str:
        if os.path.isabs(rel_path):  # metadata-only bootstrap source file
            return rel_path
        return os.path.join(self.base_path, rel_path)
