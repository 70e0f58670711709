"""Bin-packing small-file compaction with size-tiered selection.

Re-creates moonlink's compaction job family (SURVEY.md §2 rows 18-20):

- SELECTION mirrors snapshot_maintenance.rs:42-199 + compaction_config.rs:39-54:
  a file qualifies if file_size < final target OR its delete ratio ≥ 50%;
  a run needs at least `min_files` victims (release 16) and takes at most
  `max_files` (release 32); modes BestEffort / ForceRegular / ForceFull
  (ForceFull: min 2, size ∞, any delete ratio — snapshot_options.rs:13-23,
  snapshot_maintenance.rs:66-67).
- EXECUTION mirrors compactor.rs:180-306: stream-read each victim, apply its
  deletion vector inline (bitmap anti-join), concatenate into ~512MiB zstd-4 files
  (parquet_utils.rs:16-20). New files start DV-free; the bitmap rows of
  non-victim files are OR'd per target on the driver and written as one
  fresh DV file (the DV carry-over of iceberg_table_syncer.rs:315-350
  without the remap, because victims' deletes die with the victims).

Spark-first scale design: compaction is ONE job with ONE exchange. The
planner greedily packs victim files into ~target-size groups (like
Iceberg's RewriteDataFiles file groups); execution scans every victim once,
routes each row to its group's output bin via a broadcast (path → bin)
relation, and writes all bins in a single shuffle-then-write pass. Victim
bytes cross the network exactly once; group count scales to 10^5 without
per-group driver job submissions.

Every group writes a per-partition lineage record (files-in/out, rows,
bytes); a killed run resumes by skipping groups whose lineage exists. A
resumed plan whose victims another run has rewritten since commits
nothing (``completed_outputs``), and a run whose snapshot is already in
the history returns it and writes nothing (``completed_run``).
"""

from __future__ import annotations

import json
import os
import uuid
import warnings
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from moonlink_spark.catalog.metadata import COMPACT_TARGET_BYTES, DataFile, norm_path
from moonlink_spark.plans.physical import completed_outputs, read_bin_record, write_datafiles
from moonlink_spark.table import MoonTable, completed_run


@dataclass
class CompactionConfig:
    # release-profile defaults from compaction_config.rs:48-54
    min_files: int = 16
    max_files: int = 32
    target_bytes: int = COMPACT_TARGET_BYTES
    delete_ratio: float = 0.50
    mode: str = "best_effort"  # best_effort | force_regular | force_full


@dataclass
class CompactionPlan:
    run_id: str
    victims: list[str] = field(default_factory=list)  # normalized file paths
    groups: list[list[str]] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps({"run_id": self.run_id, "victims": self.victims, "groups": self.groups})

    @staticmethod
    def from_json(s: str) -> "CompactionPlan":
        d = json.loads(s)
        return CompactionPlan(run_id=d["run_id"], victims=d["victims"], groups=d["groups"])


def select_victims(files: list[DataFile], config: CompactionConfig) -> list[DataFile]:
    """Size-tiered + delete-ratio selection (snapshot_maintenance.rs:42-145)."""
    if config.mode == "force_full":
        # ForceFull compacts EVERYTHING: min 2 files, no size bar, any delete
        # ratio, and no per-run batch cap (snapshot_maintenance.rs:66-67)
        eligible = list(files)
        min_files = 2
        max_files = len(files)
    else:
        eligible = [
            f
            for f in files
            if f.file_size_bytes < config.target_bytes
            or (f.record_count > 0 and f.deleted_count / f.record_count >= config.delete_ratio)
            # OVERSIZED files qualify too (a huge foreign parquet registered
            # via add_files): execution SPLITS them into ~target-size pieces
            # across parallel writers instead of one serial-tail task
            or f.file_size_bytes > 2 * config.target_bytes
        ]
        min_files = 2 if config.mode == "force_regular" else config.min_files
        max_files = config.max_files
    if len(eligible) < min_files:
        return []
    # oldest/smallest first: stable order by (live_bytes, path) keeps the
    # selection deterministic and prefers the tiniest files
    eligible.sort(key=lambda f: (f.live_bytes, f.file_path))
    return eligible[:max_files]


def bin_pack(victims: list[DataFile], target_bytes: int) -> list[list[str]]:
    """Greedy first-fit-decreasing pack of victims into ~target_bytes groups."""
    groups: list[list[str]] = []
    loads: list[int] = []
    for f in sorted(victims, key=lambda f: (-f.live_bytes, f.file_path)):
        placed = False
        for i, load in enumerate(loads):
            if load + f.live_bytes <= target_bytes:
                groups[i].append(norm_path(f.file_path))
                loads[i] += f.live_bytes
                placed = True
                break
        if not placed:
            groups.append([norm_path(f.file_path)])
            loads.append(f.live_bytes)
    return groups


def plan_compaction(
    table: MoonTable, config: CompactionConfig, run_id: str
) -> CompactionPlan | None:
    """Build (or reload, for resume) the deterministic compaction plan."""
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
    plan_path = os.path.join(lineage_dir, "plan.json")
    if os.path.exists(plan_path):
        with open(plan_path) as f:
            return CompactionPlan.from_json(f.read())
    victims = select_victims(table.data_files(), config)
    if not victims:
        return None
    plan = CompactionPlan(
        run_id=run_id,
        victims=[norm_path(f.file_path) for f in victims],
        groups=bin_pack(victims, config.target_bytes),
    )
    os.makedirs(lineage_dir, exist_ok=True)
    tmp = plan_path + ".tmp"
    with open(tmp, "w") as f:
        f.write(plan.to_json())
    os.rename(tmp, plan_path)
    return plan


def compact(
    table: MoonTable,
    config: CompactionConfig | None = None,
    run_id: str | None = None,
    max_concurrent_groups: int | None = None,
    lock_wait_seconds: float = 0.0,
) -> int | None:
    """Run compaction; returns the new snapshot id, or None if nothing to do.
    A *run_id* that already committed returns its snapshot and writes
    nothing (``completed_run``).
    With *lock_wait_seconds* > 0, waits for a concurrent merge/cluster to
    release the maintenance lock instead of raising MaintenanceInProgress.
    *max_concurrent_groups* is deprecated and ignored (passing it warns):
    execution is a single job, all groups sharing one exchange."""
    if max_concurrent_groups is not None:
        warnings.warn(
            "compact(max_concurrent_groups=) is ignored: compaction runs as "
            "one job whose groups share one exchange",
            DeprecationWarning,
            stacklevel=2,
        )
    config = config or CompactionConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    with table.maintenance_lock("compact", run_id, wait_seconds=lock_wait_seconds):
        return _compact_locked(table, config, run_id)


def _compact_locked(
    table: MoonTable,
    config: CompactionConfig,
    run_id: str,
) -> int | None:
    import time as _time

    done = completed_run(table, "compact", run_id)
    if done is not None:
        return done.snapshot_id
    stage_t: dict[str, float] = {}
    _t0 = _time.time()
    plan = plan_compaction(table, config, run_id)
    stage_t["plan_sec"] = round(_time.time() - _t0, 3)
    if plan is None:
        return None

    spark = table.spark
    victim_set = set(plan.victims)
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)

    delete_files = table.delete_files()
    file_by_path = {norm_path(f.file_path): f for f in table.data_files()}

    # bin-value namespace per group: group gi owns [gi*STRIDE, (gi+1)*STRIDE)
    # so split sub-bins never collide across groups (bin value = output file
    # name + lineage record name)
    _SPLIT_STRIDE = 4096

    # ONE job for every group: each victim file maps to its group's bin
    # range via a broadcast (file path -> base bin, split count) relation,
    # so the whole compaction is a single scan -> one exchange on _bin ->
    # one write pass. The per-group-job scheme this replaces paid a driver-
    # submitted Spark job, a separate deletion-vector expansion/broadcast,
    # and its own exchange PER GROUP for the same shuffled bytes; one job
    # moves identical bytes through one exchange and scales to 10^5 groups
    # without 10^5 job submissions. Bin values, hash-split sub-bin contents,
    # output names and lineage records are byte-identical to the per-group
    # scheme (same base/nb arithmetic, same xxhash64(_fp,_pos) split).
    resumed: list[DataFile] = []
    read_groups: list[tuple[int, list[str], int]] = []  # (base, paths, nb)
    if not victim_set <= file_by_path.keys():
        # a resumed plan with a victim that is no longer live: either its
        # earlier attempt committed (re-commit those outputs) or another
        # run has rewritten its victims since (stale: commit nothing)
        resumed = completed_outputs(lineage_dir, file_by_path)
        if resumed is None:
            return None
    else:
        for gi, group in enumerate(plan.groups):
            base = gi * _SPLIT_STRIDE
            # a group bigger than target (one OVERSIZED victim — bin-packing
            # never packs past target otherwise) is SPLIT across nb parallel
            # writers: without this, a 10 GB foreign file becomes one serial
            # write task — the tail that caps ForceFull's parallelism
            group_live = sum(file_by_path[p].live_bytes for p in group)
            nb = max(1, min(_SPLIT_STRIDE - 1, -(-group_live // max(1, config.target_bytes))))
            if nb == 1:
                # resume fast-path: an unsplit group whose bin a previous attempt
                # fully wrote skips the read entirely (split groups rely on
                # write_datafiles' per-bin skip instead)
                prior = read_bin_record(lineage_dir, base)
                if prior is not None:
                    resumed.append(prior)
                    continue
            read_groups.append((base, group, nb))

    _t0 = _time.time()
    new_files: list[DataFile] = list(resumed)
    total_bins = sum(nb for _, _, nb in read_groups)
    if read_groups:
        live = [file_by_path[p] for _, group, _ in read_groups for p in group]
        df = table.join_deletes(table._read_data(live, with_position=True), live, delete_files)
        bin_map = spark.createDataFrame(
            [(p, base, nb) for base, group, nb in read_groups for p in group],
            "_fp string, _base int, _nb int",
        )
        df = df.join(F.broadcast(bin_map), "_fp", "left")
        # deterministic hash split on (file, position) for oversized groups:
        # same inputs -> same sub-bin contents on every retry (lineage-safe).
        # A null _base would mean a scan path that matched no plan group —
        # fail loud instead of silently dropping the row (inner join) or
        # mis-binning it.
        binned = df.withColumn(
            "_bin",
            F.when(
                F.col("_base").isNull(),
                F.raise_error(
                    F.lit("compact: scanned file not in plan (path drift)")
                ).cast("int"),
            )
            .when(
                F.col("_nb") > 1,
                F.col("_base") + F.pmod(F.xxhash64("_fp", "_pos"), F.col("_nb")),
            )
            .otherwise(F.col("_base")),
        )
        new_files.extend(
            write_datafiles(
                binned,
                data_dir=table.catalog.data_dir,
                run_id=run_id,
                key=table.key_columns[0],
                num_bins=total_bins,
                compression="zstd",
                compression_level=4,
                lineage_dir=lineage_dir,
            )
        )
    stage_t["rewrite_sec"] = round(_time.time() - _t0, 3)

    # per-partition lineage metrics (north rule: files-in/files-out, bytes,
    # row counts per partition so a killed run resumes + is auditable);
    # outputs map back to their group through the bin id in the file name
    outs_by_group: dict[int, list[DataFile]] = {}
    for f in new_files:
        b = int(os.path.basename(f.file_path).rsplit("-b", 1)[1].split(".")[0])
        outs_by_group.setdefault(b // _SPLIT_STRIDE, []).append(f)
    metrics = []
    for gi, group in enumerate(plan.groups):
        ins = [file_by_path[p] for p in group if p in file_by_path]
        outs = outs_by_group.get(gi, [])
        metrics.append({
            "bin": gi,
            "files_in": group,
            "files_out": [f.file_path for f in outs],
            "bytes_in": sum(f.file_size_bytes for f in ins),
            "bytes_out": sum(f.file_size_bytes for f in outs),
            "rows_in": sum(f.record_count for f in ins),
            "rows_out": sum(f.record_count for f in outs),
        })
    with open(os.path.join(lineage_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f)

    _t0 = _time.time()
    new_delete_entries, n_surviving_deletes = table.carry_over_deletes(victim_set, run_id)
    stage_t["dv_carryover_sec"] = round(_time.time() - _t0, 3)

    # survivors = current files that are neither victims nor this run's own
    # outputs (a re-run of a completed run_id reconstructs new_files from
    # lineage — without the second exclusion they'd be double-committed).
    # Merges/clusters can't race (same lock) but lock-free additive appends
    # can; commit_files rebuilds the survivors on top of them.
    _t0 = _time.time()
    replaced = victim_set | {norm_path(f.file_path) for f in new_files}
    sid = table.commit_files(
        "compact",
        lambda data, deletes: (
            [f for f in data if norm_path(f.file_path) not in replaced] + new_files,
            new_delete_entries,
        ),
        summary={
            "run_id": run_id,
            "removed-files": len(plan.victims),
            "added-files": len(new_files),
            "added-records": sum(f.record_count for f in new_files),
            "surviving-delete-positions": n_surviving_deletes,
            "groups": len(plan.groups),
        },
    )
    stage_t["commit_sec"] = round(_time.time() - _t0, 3)
    # cross-run stage observability (observability/iceberg_persistence.rs:
    # 61-81 analog): per-run stage timings next to the per-bin metrics, fed
    # into the per-table rollup by moonlink_spark.observability
    with open(os.path.join(lineage_dir, "stage_metrics.json"), "w") as f:
        json.dump({"op": "compact", "stage_seconds": stage_t}, f)
    return sid
