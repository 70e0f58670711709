"""Rollback: re-publish an earlier snapshot's exact file state as a NEW
snapshot.

Iceberg public rollback semantics (the reference has no rollback — its
catalog only moves forward, file_catalog.rs:606-624 — but any table whose
snapshots are retained supports it for free): history is PRESERVED and the
current pointer moves forward to a state row-equal to the past one, so
time travel to the in-between snapshots keeps working and the rolled-away
files stay protected from the orphan sweep until expiry drops those
snapshots.

Scope and safety:

- DATA rollback, not schema rollback: the current schema (and field-id
  ledger) is kept — published files carry their recorded write-time
  field-id mappings, so they project exactly as they did in the target
  snapshot.
- Metadata-only: no data file is read, written, or moved; cost is one
  manifest-reuse commit (O(delta) chunks) regardless of table size.
- Concurrency: runs under the maintenance lock (can't interleave with
  merge/compact/cluster), and the commit is pinned to the parent read at
  entry. A lock-free append landing in the window makes the CAS fail with
  CommitConflict ON PURPOSE — silently retrying would publish a state
  without the append's files, destroying it. The operator decides whether
  to re-run rollback (explicitly discarding the append) or abort.
- LSN timeline: the rollback snapshot records no flush-lsn, so it inherits
  its parent's (monotonic) value — scan_at_lsn keeps resolving historical
  LSNs to the historical snapshots; rollback changes the PRESENT, not the
  past.
"""

from __future__ import annotations

import uuid

from moonlink_spark.table import MoonTable


def rollback_to(
    table: MoonTable,
    snapshot_id: int,
    run_id: str | None = None,
    lock_wait_seconds: float = 0.0,
) -> int:
    """Make the table's current state row-equal to retained snapshot
    *snapshot_id* via a new "rollback" commit. Returns the new snapshot id.

    Raises KeyError if the target snapshot is not retained (expired), and
    CommitConflict if a concurrent commit lands in the window (see module
    docstring — never silently discards a racing append). This is the one
    complete-list commit that does not go through MoonTable.commit_files:
    its list is the target snapshot's, not one built on the current state,
    so a retry would publish the same list over the racing commit and drop
    it — one pinned attempt, and the operator decides."""
    run_id = run_id or uuid.uuid4().hex[:12]
    with table.maintenance_lock("rollback", run_id, wait_seconds=lock_wait_seconds):
        try:
            table.meta.snapshot_by_id(snapshot_id)
        except KeyError:
            raise KeyError(
                f"snapshot {snapshot_id} is not retained in {table.root} — "
                f"rollback needs the target snapshot's manifests"
            ) from None
        if snapshot_id == table.current_snapshot_id():
            return snapshot_id  # already there; no empty commit
        parent_sid = table.current_snapshot_id()
        data = table.data_files(snapshot_id)
        dels = table.delete_files(snapshot_id)
        return table.commit_snapshot(
            "rollback",
            data,
            dels,
            expected_parent_snapshot=parent_sid,
            summary={
                "run_id": run_id,
                "rolled-back-to": snapshot_id,
                "rolled-back-from": parent_sid,
                "restored-files": len(data),
                "restored-delete-files": len(dels),
            },
        )
