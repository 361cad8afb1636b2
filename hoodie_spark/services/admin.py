"""Table-service administration: inspect, validate and unschedule pending
service work.

Reference parity: HoodieCompactionAdminTool.java:61-120 (VALIDATE /
UNSCHEDULE_PLAN / UNSCHEDULE_FILE / REPAIR over pending compactions) and
CompactionAdminClient. The reference needs this tool because its async
compactions persist a `.compaction.requested` PLAN on the timeline that
executors pick up later — a stale or half-executed plan must be validated
against the live file-system view, unscheduled (log files renamed back
down), or repaired.

This engine plans INSIDE the service transaction (services/compact.py:
plan-after-begin), so there is no persisted plan to drift: the admin
surface maps onto what CAN be pending here — a requested/inflight service
instant whose driver died (or is still alive). Concretely:

- ``validate_pending`` is the reference's VALIDATE: every pending instant
  is checked against the heartbeat protocol and the timeline/disk state,
  and each check explains what a dead state means.
- ``unschedule_pending`` is UNSCHEDULE_PLAN: remove one pending instant
  and its partial output. REPAIR collapses into the same operation
  because publication is a single atomic rename — a compaction either
  fully exists (nothing to repair) or is pending (unschedule it);
  the reference needs a separate repair pass only because its
  log-rename bookkeeping can be half-applied.
- ``validate_compaction_plan`` is the reference's per-operation file
  check (CompactionAdminClient.validateCompactionOperation): run the
  strategy NOW and verify every selected slice's base/log files actually
  exist in storage — catching manifest/disk drift before a compaction
  would bake it into a new base file.

Scale shape: everything here is driver-side metadata — the timeline fold
and the manifest-listed file paths; the only storage calls are
existence probes on the files a plan names, O(plan), never a tree walk.
(The one exception: unscheduling an instant that died before writing its
manifest must discover its partial files by the instant-stamped file
naming — the same listing walk crash-recovery rollback already uses.)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .. import timeline as tl

__all__ = ["PendingInstant", "ValidationResult", "pending_instants",
           "validate_pending", "validate_compaction_plan",
           "unschedule_pending"]


@dataclass
class PendingInstant:
    timestamp: str
    action: str
    heartbeat_live: bool


@dataclass
class ValidationResult:
    timestamp: str
    valid: bool
    issues: list[str] = field(default_factory=list)


def pending_instants(table) -> list[PendingInstant]:
    """All pending (requested/inflight) data instants with their
    heartbeat liveness — live means a writer/service is working RIGHT NOW;
    expired means the instant is reclaimable."""
    hb = tl.Heartbeat(table.base_path)
    expiry = table.write_config.heartbeat_expiry_s
    out, seen = [], set()
    for inst in table.timeline.pending():
        if inst.action not in tl.DATA_ACTIONS or inst.timestamp in seen:
            continue
        seen.add(inst.timestamp)
        out.append(PendingInstant(
            timestamp=inst.timestamp, action=inst.action,
            heartbeat_live=not hb.is_expired(inst.timestamp, expiry)))
    return out


def validate_pending(table) -> list[ValidationResult]:
    """VALIDATE: audit every pending instant. A pending instant is healthy
    iff its heartbeat is live (an owner is working) — anything else is a
    dead write awaiting reclamation, reported with the reason."""
    results = []
    for p in pending_instants(table):
        issues = []
        if not p.heartbeat_live:
            issues.append(
                f"heartbeat expired — writer died; reclaimable via "
                f"unschedule_pending or rollback_failed_writes")
        done = {i.timestamp for i in table.timeline.completed()}
        if p.timestamp in done:
            issues.append("instant is BOTH pending and completed — "
                          "corrupt timeline state")
        results.append(ValidationResult(p.timestamp, not issues, issues))
    return results


def validate_compaction_plan(table, strategy=None, **kw
                             ) -> list[ValidationResult]:
    """Per-operation plan validation (CompactionAdminClient.
    validateCompactionOperations): run the strategy against the current
    view and probe that every file the plan would read still exists.
    A missing base/log file means manifest-vs-storage drift (external
    deletion, partial restore) that compaction would otherwise turn into
    a wrong merged base."""
    from .compact import schedule_compaction

    view = table.view()
    results = []
    for sl in schedule_compaction(table, strategy, **kw):
        issues = []
        if sl.base_file and not table.storage.exists(
                view.abs(sl.base_file.path)):
            issues.append(f"base file missing: {sl.base_file.path}")
        for lf in sl.log_files_as_of(None):
            if not table.storage.exists(view.abs(lf.path)):
                issues.append(f"log file missing: {lf.path}")
        results.append(ValidationResult(
            f"{sl.partition}/{sl.file_id}", not issues, issues))
    return results


def unschedule_pending(table, instant_ts: str, *, force: bool = False,
                       dry_run: bool = False) -> list[str]:
    """UNSCHEDULE_PLAN / REPAIR: remove one pending instant and its
    partial output (instant-stamped files — it never published a
    manifest). Refuses a heartbeat-LIVE instant unless ``force=True``:
    unscheduling a live writer's transaction deletes files it is still
    writing. Returns the deleted file paths (or what WOULD be deleted
    under ``dry_run``)."""
    pend = [p for p in pending_instants(table)
            if p.timestamp == instant_ts]
    if not pend:
        raise ValueError(f"no pending instant {instant_ts!r}")
    if pend[0].heartbeat_live and not force:
        raise RuntimeError(
            f"instant {instant_ts} has a LIVE heartbeat (an owner is "
            f"working); pass force=True to unschedule it anyway")
    from .rollback import _listing_rollback_files, _pending_instant_files

    if dry_run:
        return _pending_instant_files(table, instant_ts)
    with tl.LockProvider(table.base_path,
                         table.write_config.lock_timeout_s,
                         table.write_config.lock_expiry_s):
        # re-check under the lock: an expired-heartbeat writer can still
        # be ALIVE (a stale beat mid-write is legal) and may have
        # published between the liveness probe and lock acquisition —
        # sweeping its instant-stamped files then would delete COMMITTED
        # data (the same TOCTOU rollback_failed_writes guards against)
        if any(i.timestamp == instant_ts
               for i in table.timeline.completed()):
            raise RuntimeError(
                f"instant {instant_ts} committed concurrently — nothing "
                f"to unschedule (its files are live data now)")
        if not any(i.timestamp == instant_ts
                   for i in table.timeline.pending()):
            raise ValueError(f"no pending instant {instant_ts!r}")
        deleted = _listing_rollback_files(table, instant_ts)
        for inst in table.timeline.pending():
            if inst.timestamp == instant_ts:
                table.timeline.delete_instant(inst)
        tl.Heartbeat(table.base_path).stop(instant_ts)
    return deleted
