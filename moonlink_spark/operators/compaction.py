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

The shared steps (resume check, victim read, write, DV carry-over,
commit, run record) and the resume rule live in ``operators/rewrite.py``;
this module supplies victim selection, the bin-packing plan and its
``_bin`` expression.
"""

from __future__ import annotations

import uuid
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from moonlink_spark.catalog.metadata import COMPACT_TARGET_BYTES, DataFile, norm_path
from moonlink_spark.operators.rewrite import load_plan, plan_record, rewrite
from moonlink_spark.plans.physical import write_datafiles
from moonlink_spark.table import MoonTable

# bin-value namespace per group: group gi owns [gi*STRIDE, (gi+1)*STRIDE)
# so split sub-bins never collide across groups (bin value = output file
# name + lineage record name)
_SPLIT_STRIDE = 4096


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
    groups: list[list[str]]  # normalized victim paths per output group
    # output bins per group: more than 1 only for a group bigger than
    # target (one OVERSIZED victim — bin-packing never packs past target
    # otherwise), which is SPLIT across that many parallel writers instead
    # of one serial-tail task
    splits: list[int]

    positions = True  # the bin map joins on _fp; a split hashes _fp, _pos
    sort_within = None
    cluster_by = None

    def bins(self, df: DataFrame, key: str) -> tuple[DataFrame, int]:
        """ONE job for every group: each victim file maps to its group's bin
        range via a broadcast (file path -> base bin, split count) relation,
        so the whole compaction is a single scan -> one exchange on _bin ->
        one write pass, scaling to 10^5 groups without 10^5 job
        submissions."""
        bin_map = df.sparkSession.createDataFrame(
            [
                (p, gi * _SPLIT_STRIDE, nb)
                for gi, (group, nb) in enumerate(zip(self.groups, self.splits))
                for p in group
            ],
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
        return binned, sum(self.splits)

    def summary(self) -> dict:
        return {"groups": len(self.groups)}

    def extras(self) -> dict:
        return {}


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


def _make_plan(
    table: MoonTable, config: CompactionConfig, run_id: str
) -> tuple[CompactionPlan, list[DataFile]] | None:
    """The compaction plan against the current snapshot and its victims,
    in group order; None when too few files qualify."""
    victims = select_victims(table.data_files(), config)
    if not victims:
        return None
    by_path = {norm_path(f.file_path): f for f in victims}
    groups = bin_pack(victims, config.target_bytes)
    splits = [
        max(1, min(
            _SPLIT_STRIDE - 1,
            -(-sum(by_path[p].live_bytes for p in g) // max(1, config.target_bytes)),
        ))
        for g in groups
    ]
    plan = CompactionPlan(run_id=run_id, groups=groups, splits=splits)
    return plan, [by_path[p] for g in groups for p in g]


def plan_compaction(
    table: MoonTable, config: CompactionConfig, run_id: str
) -> CompactionPlan | None:
    """Build (or reload, for resume) the deterministic compaction plan."""
    rec = plan_record(table, run_id, lambda: _make_plan(table, config, run_id))
    return None if rec is None else load_plan(CompactionPlan, rec)


def compact(
    table: MoonTable,
    config: CompactionConfig | None = None,
    run_id: str | None = None,
    max_concurrent_groups: int | None = None,
    lock_wait_seconds: float = 0.0,
) -> int | None:
    """Run compaction; returns the new snapshot id, or None if nothing to do
    or the resumed plan of *run_id* is stale (``operators/rewrite.py``).
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
    return rewrite(
        table, "compact", run_id, CompactionPlan,
        lambda: _make_plan(table, config, run_id), write_datafiles, lock_wait_seconds,
    )
