"""One rewrite core for compaction and clustering.

Compaction (``compact``), full and incremental clustering (``cluster``) and
the fused ``optimize(mode="full", cluster_by=...)`` are one operation with
different planners. ``rewrite`` runs the steps they share, once for every
op: maintenance lock → ``completed_run`` → load or write the plan → check
the plan's identity → read the victims with their deletes applied →
``write_datafiles`` → ``carry_over_deletes`` → ``commit_files`` → one run
record. The operator supplies only its plan (``RewritePlan``): a dataclass
whose fields are persisted, made against the current snapshot together
with its victims, that assigns each victim row its output bin and names
its snapshot-summary and run-record extras.

Resume rule. ``lineage/<run_id>/plan.json`` is written once per run and
pins the plan's identity: besides the op's own fields it records the
victims and the sorted delete-file paths of the snapshot it was made
against. A run_id that already committed returns its snapshot and writes
nothing (``completed_run``). Otherwise a plan resumes only while every
victim is still live and the delete-file set is the pinned one: the
victims are read and shuffled again, and the writer skips each bin whose
record an earlier attempt left (``plans/physical._write``), since the same
rows give the same bins. A stale plan commits nothing, writes nothing and
returns None. That covers another run having rewritten the victims, any
merge since the plan (its deletion vectors postdate the recorded bins) and
this run's own commit once its snapshot has expired. The check is
deliberately conservative; the caller's next run_id plans again.

Every run writes one record, ``lineage/<run_id>/metrics.json``: ``op``,
``stage_seconds`` (plan, rewrite, DV carry-over, commit), files, bytes and
rows in and out, plus the op's extras.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from typing import Callable, Protocol

from pyspark.sql import DataFrame

from moonlink_spark.catalog.metadata import DataFile, norm_path
from moonlink_spark.table import MoonTable, completed_run


class RewritePlan(Protocol):
    """What a rewrite operator's plan dataclass supplies to the core."""

    positions: bool  # whether bins() uses each row's _fp/_pos
    sort_within: list[str] | None  # columns each output bin is sorted by
    cluster_by: str | None  # layout tag of the output files

    def bins(self, df: DataFrame, key: str) -> tuple[DataFrame, int]:
        """*df* (the victims' live rows) with an int ``_bin`` column, and
        the number of bins."""

    def summary(self) -> dict:
        """The op's extras in the snapshot summary."""

    def extras(self) -> dict:
        """The op's extras in the run record."""


def _write_json(path: str, obj) -> None:
    """*obj* as JSON at *path*, atomically (tmp + rename)."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.rename(path + ".tmp", path)


def _delete_paths(deletes) -> list[str]:
    return sorted(norm_path(d.file_path) for d in deletes)


def plan_record(
    table: MoonTable, run_id: str, make: Callable[[], "tuple[RewritePlan, list[DataFile]] | None"]
) -> dict | None:
    """The plan record of *run_id*: read back when an earlier attempt wrote
    it; else *make()*'s (plan, victims), or None when there is nothing to
    rewrite, written once with the victims and the current delete files."""
    path = os.path.join(table.catalog.metadata_dir, "lineage", run_id, "plan.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    made = make()
    if made is None:
        return None
    plan, victims = made
    rec = {
        **dataclasses.asdict(plan),
        "victims": [norm_path(f.file_path) for f in victims],
        "deletes": _delete_paths(table.delete_files()),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write_json(path, rec)
    return rec


def load_plan(plan_type: type, rec: dict):
    """The *plan_type* dataclass held by the plan record *rec*."""
    return plan_type(**{f.name: rec[f.name] for f in dataclasses.fields(plan_type)})


def rewrite(
    table: MoonTable,
    op: str,
    run_id: str,
    plan_type: type,
    make: Callable[[], "tuple[RewritePlan, list[DataFile]] | None"],
    write_datafiles: Callable[..., list[DataFile]],
    lock_wait_seconds: float = 0.0,
) -> int | None:
    """Run the rewrite *op* ("compact" or "cluster") under *run_id*; return
    its snapshot id, or None when there was nothing to do or the resumed
    plan is stale. *make* plans against the current snapshot; *plan_type*
    is the dataclass it returns. *write_datafiles* is
    ``plans.physical.write_datafiles`` as the operator's module holds it:
    perfbench's traced run wraps the writer in each operator module."""
    with table.maintenance_lock(op, run_id, wait_seconds=lock_wait_seconds):
        done = completed_run(table, op, run_id)
        if done is not None:
            return done.snapshot_id
        stage: dict[str, float] = {}
        t0 = time.time()
        rec = plan_record(table, run_id, make)
        stage["plan_sec"] = round(time.time() - t0, 3)
        if rec is None:
            return None
        live = {norm_path(f.file_path): f for f in table.data_files()}
        deletes = table.delete_files()
        victim_set = set(rec["victims"])
        if not victim_set <= live.keys() or rec["deletes"] != _delete_paths(deletes):
            return None
        plan: RewritePlan = load_plan(plan_type, rec)
        victims = [live[p] for p in rec["victims"]]
        lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
        key = table.key_columns[0]

        t0 = time.time()
        # row positions are read when a deletion vector targets a victim or
        # the plan needs them
        df = table.read_live(victims, deletes, with_position=plan.positions)
        binned, num_bins = plan.bins(df, key)
        new_files = write_datafiles(
            binned,
            data_dir=table.catalog.data_dir,
            run_id=run_id,
            key=key,
            num_bins=num_bins,
            compression="zstd",
            compression_level=4,
            sort_within=plan.sort_within,
            lineage_dir=lineage_dir,
        )
        for f in new_files:
            f.cluster_by = plan.cluster_by
        stage["rewrite_sec"] = round(time.time() - t0, 3)

        # victims' deletes were applied by the read and die with them;
        # delete rows that target survivors are carried over
        t0 = time.time()
        new_deletes, n_surviving = table.carry_over_deletes(victim_set, run_id)
        stage["dv_carryover_sec"] = round(time.time() - t0, 3)

        # merges and other rewrites cannot race (same lock) but lock-free
        # appends can; commit_files rebuilds the survivors on top of them
        t0 = time.time()
        sid = table.commit_files(
            op,
            lambda data, _deletes: (
                [f for f in data if norm_path(f.file_path) not in victim_set] + new_files,
                new_deletes,
            ),
            summary={
                "run_id": run_id,
                **plan.summary(),
                "removed-files": len(victims),
                "added-files": len(new_files),
                "added-records": sum(f.record_count for f in new_files),
                "surviving-delete-positions": n_surviving,
            },
        )
        stage["commit_sec"] = round(time.time() - t0, 3)

        # the run record, read by observability.collect_stage_metrics;
        # per-bin detail is in the bin-*.json records write_datafiles left
        _write_json(os.path.join(lineage_dir, "metrics.json"), {
            "op": op,
            "stage_seconds": stage,
            "files_in": rec["victims"],
            "files_out": [f.file_path for f in new_files],
            "bytes_in": sum(f.file_size_bytes for f in victims),
            "bytes_out": sum(f.file_size_bytes for f in new_files),
            "rows_in": sum(f.record_count for f in victims),
            "rows_out": sum(f.record_count for f in new_files),
            **plan.extras(),
        })
        if op == "compact":
            # perfbench/workloads.py (the cdc_upsert compaction probe)
            # reads compaction's stages from this file
            _write_json(
                os.path.join(lineage_dir, "stage_metrics.json"),
                {"op": op, "stage_seconds": stage},
            )
        return sid
