"""optimize(table, mode) — the user-facing maintenance façade.

Mirrors moonlink's optimize_table API (moonlink_backend/src/lib.rs:357-372;
REST rest_api.rs:760-771): mode "data" -> best-effort compaction, "index" ->
metadata merge (manifest rewrite; the per-file key-index sidecars that stand
in for moonlink's hash-file indexes are not merged — merges and point reads
open one per candidate file), "full" -> force
compaction of everything (ForceFull thresholds: min 2 files, size ∞, any
delete ratio — snapshot_maintenance.rs:66-67), optionally clustered.
"""

from __future__ import annotations

from moonlink_spark.operators.clustering import cluster
from moonlink_spark.operators.compaction import CompactionConfig, compact
from moonlink_spark.operators.manifest_rewrite import rewrite_manifests
from moonlink_spark.table import MoonTable


def optimize(
    table: MoonTable,
    mode: str = "data",
    run_id: str | None = None,
    cluster_by: list[str] | None = None,
    curve: str = "zorder",
    target_bytes: int | None = None,
    lock_wait_seconds: float = 0.0,
) -> int | None:
    """mode="full" with *cluster_by* is the FUSED compact+cluster: one
    read→zkey→shuffle→write pass that bin-packs every file to ~target size,
    applies all deletion vectors inline, AND lays rows out in curve order —
    committing as a single snapshot. Half the I/O of running compact then
    cluster back-to-back (each is a full-table rewrite)."""
    from moonlink_spark.catalog.metadata import COMPACT_TARGET_BYTES

    tb = target_bytes or COMPACT_TARGET_BYTES
    if mode == "data":
        return compact(
            table, CompactionConfig(mode="best_effort", target_bytes=tb),
            run_id=run_id, lock_wait_seconds=lock_wait_seconds,
        )
    if mode == "index":
        return rewrite_manifests(table)
    if mode == "full":
        if cluster_by:
            return cluster(
                table, by=cluster_by, curve=curve, run_id=run_id,
                target_bytes=tb, lock_wait_seconds=lock_wait_seconds,
            )
        return compact(
            table, CompactionConfig(mode="force_full", target_bytes=tb),
            run_id=run_id, lock_wait_seconds=lock_wait_seconds,
        )
    if mode == "incremental":
        # the steady-state daily op: absorb unclustered appends/merge
        # inserts into the existing curve layout without touching the rest
        if not cluster_by:
            raise ValueError("mode='incremental' needs cluster_by")
        return cluster(
            table, by=cluster_by, curve=curve, run_id=run_id,
            target_bytes=tb, lock_wait_seconds=lock_wait_seconds,
            scope="incremental",
        )
    raise ValueError(f"unknown optimize mode {mode!r} (data|index|full|incremental)")
