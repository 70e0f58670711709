"""Z-order / Hilbert clustering rewrite with salted range partitioning.

Moonlink has no clustering (compactor.rs concatenates in input order); the
north rule adds it. Design:

1. PLAN (one cheap pass): per-dimension min/max come from manifest stats
   (no data read); curve-key quantile boundaries come from a seeded sample.
   Hot keys (duplicate quantile boundaries = heavy key ranges) get per-bin
   salt factors so no single reducer drowns — the "salted repartitionByRange"
   of BASELINE.json, implemented as explicit deterministic bins so a resumed
   run reproduces identical files. The plan (bounds, boundaries, salts) is
   persisted under lineage/<run_id>/plan.json.
2. EXECUTE (one shuffle): a single Arrow-batched pandas UDF computes the
   curve key AND the salted bin (np.searchsorted over the broadcast
   boundaries) in one pass; rows shuffle once on the int bin; each reduce
   task sorts its bin by key and streams it into a zstd-4 parquet file with
   in-pass stats + lineage (plans/physical.py).

At 100 TB: one full shuffle is unavoidable for a global re-cluster — this is
the minimum-shuffle plan (no extra pass for sorting: sortWithinPartitions
rides the shuffle). Skew is bounded by the salt factors; AQE handles
residual imbalance.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from moonlink_spark.catalog.metadata import COMPACT_TARGET_BYTES, norm_path
from moonlink_spark.functions.zorder import DEFAULT_BITS, curve_key
from moonlink_spark.plans.physical import (
    exclude_file_paths,
    read_bin_records,
    write_datafiles,
)
from moonlink_spark.table import MoonTable

# sampled keys for boundary estimation: ~500 keys/bin at 128 bins — plenty
# for quantile boundaries, and the driver-side quantile stays trivially fast
_SAMPLE_TARGET = 64_000
_SEED = 42

# boundary-search strategy cutover: below this many range boundaries the
# whole assignment stays JVM-native (array-literal filter — O(bins) per row
# but codegen-cheap at small counts); above it, an O(log bins) numpy
# searchsorted in an Arrow-batched pandas UDF. At 100 TB a re-cluster has
# ~200k boundaries — the array-literal form would be an O(bins)-per-row
# expression inside a multi-MB codegen plan (the round-1 scale-killer).
_NATIVE_BOUNDARY_MAX = 128

# curve="align" groups by DISTINCT value tuples (categorical partition
# columns, e.g. fmt/lang/date) — the driver holds one row per distinct
# tuple, so cap it where a broadcast map stops being "partition-like"
_ALIGN_MAX_VALUES = 100_000


@dataclass
class ClusterPlan:
    run_id: str
    curve: str
    by: list[str]
    bounds: list[tuple[float, float]]  # per-dimension (min, max)
    boundaries: list[int]  # curve-key range boundaries (len = base_bins - 1)
    salts: list[int]  # per base-bin salt factor (≥1)
    offsets: list[int]  # cumulative salted-bin offsets (len = base_bins + 1)
    victims: list[str] = field(default_factory=list)
    # curve="align" only: sorted distinct value tuples of `by` (one base bin
    # per tuple; the value's index IS the curve key)
    values: list[list] | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @staticmethod
    def from_json(s: str) -> "ClusterPlan":
        d = json.loads(s)
        d["bounds"] = [tuple(b) for b in d["bounds"]]
        return ClusterPlan(**d)


def _column_bounds(table: MoonTable, files, by: list[str]) -> list[tuple[float, float]]:
    """Per-dimension min/max from manifest stats (no data read); falls back
    to an agg scan only if stats are missing."""
    bounds = []
    missing = False
    for c in by:
        lo, hi = None, None
        for f in files:
            st = f.stats.get(c)
            if not st or st.get("min") is None or st.get("max") is None:
                missing = True
                break
            lo = st["min"] if lo is None else min(lo, st["min"])
            hi = st["max"] if hi is None else max(hi, st["max"])
        if missing:
            break
        bounds.append((float(lo), float(hi)))
    if not missing and len(bounds) == len(by):
        return bounds
    row = (
        table.scan(columns=by)
        .agg(*[F.min(c).alias(f"mn_{c}") for c in by], *[F.max(c).alias(f"mx_{c}") for c in by])
        .first()
    )
    return [(float(row[f"mn_{c}"]), float(row[f"mx_{c}"])) for c in by]


def _align_key_cols(by: list[str], schema) -> list[tuple[str, object]]:
    """Per align entry: (key column name, derivation Column or None).
    Bare columns group on themselves; transform expressions ("day(ts)",
    "truncate[4](caption)") group on a derived column computed JVM-side
    (bucket[N] via the vectorized Arrow fallback) — the derived value is
    exactly the Iceberg partition value, so an align-by-"day(ts)" rewrite
    produces files exportable with partition_by=["day(ts)"]."""
    from moonlink_spark.iceberg.spec import iceberg_type
    from moonlink_spark.iceberg.transforms import (
        parse_partition_expr,
        partition_field_name,
        transform_column,
    )

    cols: list[tuple[str, object]] = []
    for expr in by:
        tr, src = parse_partition_expr(expr)
        if src not in schema.names:
            raise ValueError(f"align column {src!r} not in table schema")
        itype = iceberg_type(schema[src].dataType)
        if tr == "identity":
            if itype == "date" or itype.startswith("timestamp"):
                raise ValueError(
                    f"align on raw temporal column {src!r}: group by a "
                    f"temporal transform instead (e.g. 'day({src})')"
                )
            cols.append((src, None))
        else:
            cols.append(
                (
                    f"_align_{partition_field_name(tr, src)}",
                    transform_column(tr, src, itype),
                )
            )
    return cols


def _plan_align(
    table: MoonTable,
    run_id: str,
    by: list[str],
    files,
    victims: list[str],
    total_live: int,
    total_rows: int,
    target_bytes: int,
) -> ClusterPlan:
    """curve="align" plan: one base bin per DISTINCT value tuple of *by*
    (categorical partition columns — fmt, lang, date...), so every output
    file holds exactly ONE value per column. That per-file alignment is the
    precondition for ``export_iceberg(partition_by=...)``'s stats-driven
    identity partition spec: after an align rewrite, every file's min==max
    on the by columns and the export is zero-rewrite.

    One aggregation job (groupBy(by).count() over the victims — a map-side
    combine then one small shuffle); the driver holds one row per distinct
    tuple, capped at _ALIGN_MAX_VALUES. Values whose estimated bytes exceed
    target_bytes get a proportional salt factor — the existing salted-bin
    machinery — so a hot partition value (skewed fmt) splits into several
    files of that one value instead of one giant file."""
    read = table._read_data(files, with_position=False)
    key_cols = _align_key_cols(by, read.schema)
    for name, col in key_cols:
        if col is not None:
            read = read.withColumn(name, col)
    key_names = [name for name, _ in key_cols]
    counts = (
        read.groupBy(*key_names)
        .count()
        .limit(_ALIGN_MAX_VALUES + 1)
        .collect()
    )
    if len(counts) > _ALIGN_MAX_VALUES:
        raise ValueError(
            f"curve='align' on {by} found more than {_ALIGN_MAX_VALUES} "
            f"distinct value tuples — align is for partition-like "
            f"(low-cardinality) columns; use curve='zorder' for continuous "
            f"keys"
        )
    for r in counts:
        if any(r[c] is None for c in key_names):
            raise ValueError(
                f"curve='align' on {by}: NULL partition value found — "
                f"identity-partition export requires non-null values; "
                f"filter or backfill NULLs first"
            )
    rows = sorted(counts, key=lambda r: tuple(r[c] for c in key_names))
    values = [[r[c] for c in key_names] for r in rows]
    n = max(1, len(values))
    bytes_per_row = total_live / total_rows
    salts = [
        max(1, int(np.ceil(r["count"] * bytes_per_row / target_bytes)))
        for r in rows
    ] or [1]
    offsets = [0]
    for s in salts:
        offsets.append(offsets[-1] + s)
    return ClusterPlan(
        run_id=run_id,
        curve="align",
        by=list(by),
        bounds=[],
        boundaries=list(range(1, n)),
        salts=salts,
        offsets=offsets,
        victims=victims,
        values=values,
    )


def _plan(
    table: MoonTable,
    run_id: str,
    by: list[str],
    curve: str,
    target_bytes: int,
    bits: int,
    scope: str = "full",
) -> ClusterPlan | None:
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
    plan_path = os.path.join(lineage_dir, "plan.json")
    if os.path.exists(plan_path):
        with open(plan_path) as f:
            return ClusterPlan.from_json(f.read())

    all_files = table.data_files()
    if scope == "incremental":
        # only files not already laid out on this curve (fresh appends /
        # merge inserts), plus delete-heavy clustered files whose rewrite
        # is due anyway — the 100 TB answer to "absorb a day of appends
        # without re-shuffling the whole table"
        files = [
            f
            for f in all_files
            if f.cluster_by != curve
            or (f.record_count > 0 and f.deleted_count / f.record_count >= 0.5)
        ]
        if not files:
            return None
    else:
        files = all_files
    victims = [norm_path(f.file_path) for f in files]
    total_live = sum(f.live_bytes for f in files)
    total_rows = max(1, sum(f.live_count for f in files))

    if curve == "align":
        plan = _plan_align(
            table, run_id, by, files, victims, total_live, total_rows,
            target_bytes,
        )
        os.makedirs(lineage_dir, exist_ok=True)
        tmp = plan_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(plan.to_json())
        os.rename(tmp, plan_path)
        return plan

    base_bins = max(1, -(-total_live // target_bytes))
    # key-space bounds come from the WHOLE table's stats even in incremental
    # scope (free metadata): victim keys then quantize identically to the
    # existing layout's, so new files interleave into the same value ranges
    bounds = _column_bounds(table, all_files, by)

    # seeded sample -> curve keys -> quantile boundaries. The sample reads a
    # SUBSET of files (every k-th, ≤32): rows are hash-distributed across
    # files, so a file subset is an unbiased key sample, and the plan pass
    # opens 32 files instead of the whole table's worth. The read is RAW
    # (no deletion-vector anti-join): deleted rows bias the quantiles only
    # by the delete share — which the salts and AQE absorb — while the DV
    # read+join costs ~1s of driver/job time that is CONSTANT across
    # parallelism levels, i.e. pure serial fraction against the ≥0.8
    # scaling-efficiency target.
    files_sorted = sorted(files, key=lambda f: f.file_path)
    stride = max(1, len(files_sorted) // 32)
    sample_files = files_sorted[::stride][:32]
    sample_rows = max(1, sum(f.record_count for f in sample_files))
    frac = min(1.0, _SAMPLE_TARGET / sample_rows)
    sample_scan = table._read_data(sample_files, with_position=False).select(*by)
    sample_pdf = (
        sample_scan.sample(fraction=frac, seed=_SEED).toPandas()
        if frac < 1.0
        else sample_scan.toPandas()
    )
    if len(sample_pdf) == 0:
        keys = np.zeros(1, dtype=np.int64)
    else:
        keys = curve_key(
            [sample_pdf[c].to_numpy() for c in by], bounds, curve=curve, bits=bits
        )
    qs = np.quantile(keys, np.linspace(0, 1, base_bins + 1)[1:-1]) if base_bins > 1 else np.array([])
    boundaries = [int(q) for q in qs]

    # hot-range detection: expected rows per base bin from the sample; a bin
    # holding > 2x its fair share gets a proportional salt factor
    if len(keys) > 0 and base_bins > 1:
        bin_ids = np.searchsorted(np.array(boundaries, dtype=np.int64), keys, side="right")
        counts = np.bincount(bin_ids, minlength=base_bins).astype(np.float64)
        fair = max(1.0, len(keys) / base_bins)
        salts = [max(1, int(np.ceil(c / (2.0 * fair)))) for c in counts]
    else:
        salts = [1] * base_bins
    offsets = [0]
    for s in salts:
        offsets.append(offsets[-1] + s)

    plan = ClusterPlan(
        run_id=run_id,
        curve=curve,
        by=list(by),
        bounds=bounds,
        boundaries=boundaries,
        salts=salts,
        offsets=offsets,
        victims=victims,
    )
    os.makedirs(lineage_dir, exist_ok=True)
    tmp = plan_path + ".tmp"
    with open(tmp, "w") as f:
        f.write(plan.to_json())
    os.rename(tmp, plan_path)
    return plan


def assign_keys_and_bins(df, plan: ClusterPlan, key_col: str, bits: int = DEFAULT_BITS):
    """Attach ``_zkey`` (curve key) and ``_bin`` (salted range bin) to *df*.

    Strategy by scale:
    - Z-order + ≤_NATIVE_BOUNDARY_MAX boundaries: fully JVM-side — codegen'd
      bit interleave, array-literal boundary filter, crc32 salt ("stay
      JVM-side"; no Python worker in the hot path).
    - Z-order + many boundaries: JVM-native key, then an Arrow-batched
      pandas UDF doing O(log bins) np.searchsorted over the broadcast
      boundary array — the array-literal filter would be O(bins) per row and
      a multi-MB codegen plan at 100 TB bin counts.
    - Hilbert: the key itself needs the iterative Skilling transform, so key
      AND bin come from one vectorized pandas UDF.
    """
    bounds = plan.bounds
    boundaries = np.array(plan.boundaries, dtype=np.int64)
    salts = np.array(plan.salts, dtype=np.int64)
    offsets = np.array(plan.offsets[:-1], dtype=np.int64)
    curve_name = plan.curve
    by_cols = plan.by
    nbits = bits

    if curve_name == "align":
        # categorical alignment: the plan's sorted distinct value tuples map
        # to (key index, bin offset, salt) — attached via ONE broadcast hash
        # join, so the hot path is pure JVM codegen at ANY value cardinality
        # (no array literals in the plan, no Python worker). Transform
        # expressions ("day(ts)") first derive their key column the same
        # way the plan did, and the derived columns are dropped after.
        from pyspark.sql.types import IntegerType, LongType, StructField, StructType

        spark = df.sparkSession
        key_cols = _align_key_cols(by_cols, df.schema)
        derived = []
        for name, col in key_cols:
            if col is not None:
                df = df.withColumn(name, col)
                derived.append(name)
        key_names = [name for name, _ in key_cols]
        map_schema = StructType(
            [df.schema[c] for c in key_names]
            + [
                StructField("_zkey", LongType(), False),
                StructField("_off", IntegerType(), False),
                StructField("_saltn", IntegerType(), False),
            ]
        )
        map_rows = [
            tuple(vals) + (i, int(plan.offsets[i]), int(plan.salts[i]))
            for i, vals in enumerate(plan.values or [])
        ]
        map_df = spark.createDataFrame(map_rows, map_schema)
        joined = df.join(F.broadcast(map_df), on=key_names, how="left")
        salt = F.when(
            F.col("_saltn") > 1,
            F.pmod(F.crc32(F.col(key_col).cast("string").cast("binary")),
                   F.col("_saltn")),
        ).otherwise(F.lit(0))
        # the null-key branch raises INSIDE the bin expression (a separate
        # assert column would be pruned away as unused): execute reads only
        # the plan's victim files, so every tuple must be in the plan
        bin_col = F.when(
            F.col("_zkey").isNull(),
            F.raise_error(
                F.lit("align: value tuple not in plan (plan/execute drift)")
            ).cast("int"),
        ).otherwise((F.col("_off") + salt).cast("int"))
        return joined.withColumn("_bin", bin_col).drop("_off", "_saltn", *derived)

    if curve_name == "zorder":
        from moonlink_spark.functions.zorder import with_zorder_key

        df = with_zorder_key(df, by_cols, bounds, bits=nbits, out="_zkey")
        if len(boundaries) <= _NATIVE_BOUNDARY_MAX:
            if len(boundaries):
                barr = F.array(*[F.lit(int(b)).cast("long") for b in boundaries])
                base = F.size(F.filter(barr, lambda x: x <= F.col("_zkey")))
            else:
                base = F.lit(0)
            df = df.withColumn("_base", base)
            oarr = F.array(*[F.lit(int(o)).cast("int") for o in offsets])
            sarr = F.array(*[F.lit(int(s)).cast("int") for s in salts])
            off = F.element_at(oarr, F.col("_base") + 1)
            salt_n = F.element_at(sarr, F.col("_base") + 1)
            # deterministic salt from the row key string (crc32: stable across
            # processes; matches zlib.crc32 over UTF-8 bytes)
            salt = F.when(
                salt_n > 1,
                F.pmod(F.crc32(F.col(key_col).cast("string").cast("binary")), salt_n)
            ).otherwise(F.lit(0))
            return df.withColumn("_bin", (off + salt).cast("int")).drop("_base")

        any_salted = bool((salts > 1).any())

        @F.pandas_udf("int")
        def _bin_of(zkey: pd.Series, ids: pd.Series) -> pd.Series:
            base = np.searchsorted(boundaries, zkey.to_numpy(), side="right")
            if not any_salted:
                return pd.Series(offsets[base].astype(np.int32))
            import zlib as _zlib

            salt_n = salts[base]
            sids = ids.astype(str)
            h = np.fromiter(
                (_zlib.crc32(x.encode()) for x in sids), dtype=np.int64, count=len(sids)
            )
            bins = offsets[base] + np.where(salt_n > 1, h % salt_n, 0)
            return pd.Series(bins.astype(np.int32))

        return df.withColumn("_bin", _bin_of(F.col("_zkey"), F.col(key_col)))

    @F.pandas_udf("key long, bin int")
    def _key_and_bin(*cols: pd.Series) -> pd.DataFrame:
        arrays = [c.to_numpy() for c in cols[:-1]]
        keys = curve_key(arrays, bounds, curve=curve_name, bits=nbits)
        base = np.searchsorted(boundaries, keys, side="right")
        salt_n = salts[base]
        # deterministic salt from the row key string (crc32: stable
        # across processes, unlike Python's seeded str hash)
        import zlib as _zlib

        ids = cols[-1].astype(str)
        h = np.fromiter(
            (_zlib.crc32(x.encode()) for x in ids), dtype=np.int64, count=len(ids)
        )
        bins = offsets[base] + np.where(salt_n > 1, h % salt_n, 0)
        return pd.DataFrame({"key": keys, "bin": bins.astype(np.int32)})

    kb = _key_and_bin(*[F.col(c) for c in by_cols], F.col(key_col))
    return df.withColumn("_kb", kb).select(
        "*", F.col("_kb.key").alias("_zkey"), F.col("_kb.bin").alias("_bin")
    ).drop("_kb")


def cluster(
    table: MoonTable,
    by: list[str] | None = None,
    curve: str = "zorder",
    run_id: str | None = None,
    target_bytes: int = COMPACT_TARGET_BYTES,
    bits: int = DEFAULT_BITS,
    lock_wait_seconds: float = 0.0,
    scope: str = "full",
) -> int | None:
    """Clustering rewrite; returns the new snapshot id (None if incremental
    scope found nothing to do).

    curve: "zorder" / "hilbert" lay rows out on a space-filling curve over
    NUMERIC columns; "align" groups rows by the DISTINCT value tuples of
    categorical columns (fmt, lang, ...) so every output file holds exactly
    one value per column — the precondition for
    ``export_iceberg(partition_by=...)``'s zero-rewrite identity spec.

    scope="full": rewrite the whole table into curve order (the heavy,
    rarely-run op). scope="incremental": rewrite ONLY files not yet on this
    curve (fresh appends, merge inserts) plus delete-heavy clustered files —
    survivors and their deletion vectors are untouched except that delete
    rows targeting victims are applied inline and the surviving delete set
    is rewritten (compaction's DV carry-over). At 100 TB this is the daily
    op: victim bytes ≈ the day's ingest, not the table."""
    by = by or ["phash", "w", "h"]
    run_id = run_id or uuid.uuid4().hex[:12]
    if scope not in ("full", "incremental"):
        raise ValueError(f"unknown scope {scope!r} (full|incremental)")
    if curve not in ("zorder", "hilbert", "align"):
        raise ValueError(f"unknown curve {curve!r} (zorder|hilbert|align)")
    with table.maintenance_lock("cluster", run_id, wait_seconds=lock_wait_seconds):
        return _cluster_locked(table, by, curve, run_id, target_bytes, bits, scope)


def _cluster_locked(
    table: MoonTable,
    by: list[str],
    curve: str,
    run_id: str,
    target_bytes: int,
    bits: int,
    scope: str = "full",
) -> int | None:
    stage_t: dict[str, float] = {}
    t0 = time.time()
    plan = _plan(table, run_id, by, curve, target_bytes, bits, scope)
    if plan is None:
        return None
    stage_t["plan_sec"] = round(time.time() - t0, 3)
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)

    key_col = table.key_columns[0] if table.key_columns else by[0]
    num_bins = int(plan.offsets[-1])

    # resume: bins already written (lineage record present, file still
    # there) are filtered out before the shuffle, so a resumed run re-reads
    # only the missing bins' rows
    done = read_bin_records(lineage_dir)

    # read ONLY the plan's victims (== every file in full scope); scan()
    # still applies the table's deletion vectors, so victim rows suppressed
    # by a DV are dropped inline and victims' delete entries die with them
    victim_set_early = set(plan.victims)
    victim_files = [
        f for f in table.data_files() if norm_path(f.file_path) in victim_set_early
    ]
    df = assign_keys_and_bins(
        table.scan(files=victim_files), plan, key_col=key_col, bits=bits
    )
    if done:
        df = df.filter(~F.col("_bin").isin(sorted(done)))

    t0 = time.time()
    new_files = write_datafiles(
        df,
        data_dir=table.catalog.data_dir,
        run_id=run_id,
        num_bins=num_bins,
        compression="zstd",
        compression_level=4,
        sort_within=["_zkey"],
        lineage_dir=lineage_dir,
    )
    stage_t["rewrite_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    for f in new_files:
        f.cluster_by = plan.curve

    # skipped bins are part of this run's output
    have = {norm_path(f.file_path) for f in new_files}
    for b in sorted(done):
        if norm_path(done[b].file_path) not in have:
            done[b].cluster_by = plan.curve
            new_files.append(done[b])

    in_files = [f for f in table.data_files() if norm_path(f.file_path) in set(plan.victims)]
    stage_t["reconstruct_sec"] = round(time.time() - t0, 3)

    # surviving deletes: full scope rewrote every file, so the table is
    # DV-free; incremental scope must carry over delete rows that target
    # SURVIVORS (compaction's DV carry-over — victims' deletes were applied
    # inline by the scan above and die with the victims)
    t0 = time.time()
    new_delete_entries: list = []
    n_surviving_deletes = 0
    if scope == "incremental":
        delete_files = table.delete_files()
        if delete_files:
            surviving = exclude_file_paths(table.read_delete_rows(delete_files), plan.victims)
            n_surviving_deletes = surviving.count()
            if n_surviving_deletes > 0:
                new_delete_entries = table.write_position_deletes(
                    surviving,
                    run_id=run_id + "-dv",
                    num_bins=table.dv_rewrite_bins(n_surviving_deletes),
                )
    stage_t["dv_carryover_sec"] = round(time.time() - t0, 3)

    # commit rebase on conflict: merges/compactions can't race (same lock)
    # but lock-free additive appends can — recompute survivors from fresh
    # state so their files survive the rewrite commit
    from moonlink_spark.catalog.catalog import CommitConflict

    victim_set = set(plan.victims)
    out_set = {norm_path(f.file_path) for f in new_files}
    last_conflict: Exception | None = None
    snapshot_id: int | None = None
    t0 = time.time()
    for _ in range(5):
        # pin the commit to the parent read BEFORE the survivor list — an
        # append CASing in between would otherwise be silently clobbered
        parent_sid = table.current_snapshot_id()
        survivors = [
            f
            for f in table.data_files()
            if norm_path(f.file_path) not in victim_set
            and norm_path(f.file_path) not in out_set
        ]
        try:
            snapshot_id = table.commit_snapshot(
                "cluster",
                survivors + new_files,
                new_delete_entries,
                expected_parent_snapshot=parent_sid,
                summary={
                    "run_id": run_id,
                    "curve": plan.curve,
                    "by": plan.by,
                    "scope": scope,
                    "removed-files": len(plan.victims),
                    "added-files": len(new_files),
                    "added-records": sum(f.record_count for f in new_files),
                    "surviving-delete-positions": n_surviving_deletes,
                    "salted-bins": int(sum(1 for s in plan.salts if s > 1)),
                },
            )
            break
        except CommitConflict as e:
            last_conflict = e
    if snapshot_id is None:
        raise last_conflict  # type: ignore[misc]
    stage_t["commit_sec"] = round(time.time() - t0, 3)

    # per-run lineage metrics (files-in/out, bytes, rows; per-bin detail
    # lives in the bin-*.json records written by write_datafiles). Stage
    # timings expose the serial/parallel split: plan = sample+quantile
    # (mostly serial driver work), rewrite = the shuffle+write job (the
    # parallel part), reconstruct/commit = driver-side metadata.
    with open(os.path.join(lineage_dir, "metrics.json"), "w") as fh:
        json.dump({
            "op": "cluster",
            "files_in": plan.victims,
            "files_out": [f.file_path for f in new_files],
            "bytes_in": sum(f.file_size_bytes for f in in_files),
            "bytes_out": sum(f.file_size_bytes for f in new_files),
            "rows_in": sum(f.record_count for f in in_files),
            "rows_out": sum(f.record_count for f in new_files),
            "salts": plan.salts,
            "stage_seconds": stage_t,
        }, fh)
    return snapshot_id
