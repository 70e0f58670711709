"""MERGE INTO — the CDC upsert kernel, mirroring moonlink's apply semantics.

Reference semantics being re-created (SURVEY.md §2 rows 2-3, 10-12; §3.2):
  - change batch rows are (op ∈ {I,U,D}, lsn, <full row>) — moonlink's
    TableEvent stream where Update = Delete(old)+Append(new) at the same LSN
    (moonlink_sink.rs:295-326);
  - per-key last-writer-wins at max lsn (visibility rule in
    snapshot.rs:925-941: a delete at LSN X targets rows committed < X);
  - U is a FULL-ROW replace; I on an existing key upserts; D on a missing
    key is a no-op (delete_if_exists, mooncake_table.rs:1286-1288).

Delete positions come from an index, as in moonlink, which probes a
persisted hash index per data file (persisted_bucket_hash_map.rs). Here
every data file has a key-index sidecar (catalog/key_index.py): its (key,
pos) rows sorted by key. The LWW head's one Spark action also collects the
batch keys. The driver then reads, from the sidecars of the manifest-pruned
target files, only the row groups whose key range holds a batch key, and
keeps the (file_path, pos) of the rows whose key is a batch key. No Spark
job reads target data. The lookup does not consult the existing deletion
vectors, so it returns the live row of each batch key plus any dead versions
of those keys that no rewrite has removed yet. The driver drops the
positions the snapshot's deletion vectors already set (liveness), folds the
rest into one bitmap row per target file (fold_live_positions) and writes
them as one deletion-vector file (the puffin-DV analog) through
MoonTable.write_position_deletes, the writer every DV file goes through.
Surviving change rows become fresh data files, each with its sidecar. One
atomic snapshot commit publishes both.

Driver bounds: the batch keys, batch rows × key bytes; per probed file, its
sidecar footer plus min(sidecar bytes, row groups hit × row-group bytes);
the matched positions, bounded by the batch and the batch keys' history,
never by the table. The only shuffle is on the change batch; skewed keys
are impossible post-LWW (keys are unique).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from moonlink_spark.catalog import key_index
from moonlink_spark.catalog.metadata import norm_path
from moonlink_spark.plans.physical import hash_bin, write_datafiles
from moonlink_spark.table import MoonTable, completed_run, fold_live_positions


@dataclass
class MergeResult:
    snapshot_id: int
    inserted_rows: int
    deleted_positions: int
    matched_keys: int


class ConcurrentAppendOverlap(Exception):
    """A lock-free append landed during the merge and its key range may
    intersect the change batch's. The commit rebase folds appended files in
    UNPROBED — if one holds a key the batch upserts, committing would leave
    two live rows for that key (the append's row was never position-deleted
    and the merge's insert also lands). Retryable: re-run the merge with the
    same run_id — the fresh probe sees the appended files."""


def _overlapping_foreign_appends(
    fresh_files: list, planned_paths: set[str], out_set: set[str],
    key: str, klo, khi,
) -> list:
    """Data files present now but absent from the snapshot the probe planned
    against (and not our own outputs), whose per-file [min,max] key stats
    may intersect the batch's [klo,khi]. Missing stats → conservatively
    overlapping."""
    out = []
    for f in fresh_files:
        p = norm_path(f.file_path)
        if p in planned_paths or p in out_set:
            continue
        st = (f.stats or {}).get(key) or {}
        fmin, fmax = st.get("min"), st.get("max")
        if fmin is None or fmax is None or klo is None:
            out.append(f)
            continue
        if not (fmax < klo or fmin > khi):
            out.append(f)
    return out


def last_writer_wins(changes: DataFrame, key: str) -> DataFrame:
    """Collapse a change batch to one final row per key: highest lsn wins;
    on an lsn tie the non-delete row wins (moonlink's update decomposition
    emits Delete(old)+Append(new) at the SAME lsn — the append is final)."""
    w = Window.partitionBy(key).orderBy(
        F.col("lsn").desc(),
        F.when(F.col("op") == "D", 1).otherwise(0).asc(),
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _completed_run(table: MoonTable, run_id: str) -> MergeResult | None:
    """The result of the merge *run_id* already committed (completed_run)."""
    s = completed_run(table, "merge", run_id)
    if s is None:
        return None
    return MergeResult(
        snapshot_id=s.snapshot_id,
        inserted_rows=int(s.summary.get("added-records", 0)),
        deleted_positions=int(s.summary.get("matched-keys", 0)),
        matched_keys=int(s.summary.get("matched-keys", 0)),
    )


def merge_into(
    table: MoonTable,
    changes: DataFrame,
    run_id: str | None = None,
    rows_per_file: int = 131_072,
    lock_wait_seconds: float = 300.0,
) -> MergeResult:
    """Apply a CDC batch to *table*; returns the committed MergeResult.

    Takes the table's maintenance lock: a merge publishes a COMPLETE file
    list computed from the snapshot it planned against, so racing a
    concurrent compaction/clustering would silently resurrect that job's
    victims and drop its outputs. Moonlink serializes every table event
    through one event loop (table_handler.rs:202-218); the advisory lock is
    the multi-process analog. Lock-free appends are tolerated: the commit
    rebase below folds concurrently-appended files into the survivor set."""
    run_id = run_id or uuid.uuid4().hex[:12]

    done = _completed_run(table, run_id)
    if done is not None:
        return done
    with table.maintenance_lock("merge", run_id, wait_seconds=lock_wait_seconds):
        # re-check under the lock: another process may have completed this
        # run_id while we waited
        done = _completed_run(table, run_id)
        if done is not None:
            return done
        return _merge_locked(table, changes, run_id, rows_per_file)


def _merge_locked(
    table: MoonTable,
    changes: DataFrame,
    run_id: str,
    rows_per_file: int,
) -> MergeResult:
    import os

    key = table.key_columns[0]
    cols = [f.name for f in table.schema.fields]
    # per-partition lineage (north rule) for the INSERT writes only: their
    # bin contents are a pure function of the change batch (LWW collapse +
    # hash binning), so a merge killed mid-write resumes skipping completed
    # bins. The DELETE file gets NO lineage on purpose: its positions come
    # from probing TABLE STATE, which a lock-free append can change between
    # a failed attempt and its retry — resuming a stale delete file would
    # silently skip newly-matched positions. It is re-written fully on
    # retry (idempotent: same file name, tiny bitmaps).
    lineage_root = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
    ins_lineage = os.path.join(lineage_root, "inserts")

    import time as _time

    stage_t: dict[str, float] = {}
    _t0 = _time.time()

    final = last_writer_wins(changes, key)
    final.cache()
    try:
        # ONE action materializes the cache AND yields everything the plan
        # needs: row count, commit-LSN baseline (mooncake_table.rs:1290-1312:
        # the snapshot's flush_lsn = highest lsn applied, consumed by
        # read-at-LSN scans), batch key bounds for manifest pruning, the
        # delete-row count (insert count = n - d, saving a separate
        # inserts.count() job) and the batch keys for the index lookup
        # (collect_list skips null keys, which match nothing)
        head = final.agg(
            F.count("*").alias("n"),
            F.max("lsn").alias("mx"),
            F.min(key).alias("klo"),
            F.max(key).alias("khi"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("nd"),
            F.collect_list(key).alias("keys"),
        ).first()
        n_final = int(head["n"])
        # monotonic clamp: an empty batch (mx None -> parent) or an
        # out-of-order CDC file whose max lsn is below an earlier batch's
        # must never REGRESS the flush-lsn — scan_at_lsn(X) would otherwise
        # pick this snapshot and return rows with lsn > X
        batch_lsn = int(head["mx"]) if head["mx"] is not None else 0
        flush_lsn = max(table.current_flush_lsn(), batch_lsn)
        stage_t["lww_head_sec"] = round(_time.time() - _t0, 3)
        _t0 = _time.time()

        # --- position resolution: the key-index sidecars (hash_index.rs analog)
        # manifest-stats file pruning: a file whose [min,max] key range
        # can't intersect the batch's key range can't hold a matching row —
        # skip probing it entirely (the moonlink analog: per-file min/max
        # Datum stats gating the index probe; on a key-clustered table this
        # turns a full-table lookup into a few files). Data files, probed
        # files and prior deletion vectors all come from one pinned snapshot.
        planned_sid = table.current_snapshot_id()
        all_files = table.data_files(planned_sid)
        if n_final == 0:
            probe_files = []  # empty batch: nothing can match, skip the probe
        elif head["klo"] is not None:
            probe_files = table.plan_files(
                {key: (head["klo"], head["khi"])}, snapshot_id=planned_sid
            )
        else:
            probe_files = all_files
        new_delete_files: list = []
        per_file_deletes: dict[str, int] = {}
        if probe_files:
            positions = key_index.lookup(probe_files, head["keys"])
            touched = set(positions.column("file_path").to_pylist())
            prior = table.read_bitmap_rows(table.delete_files(planned_sid), touched)
            bitmaps = fold_live_positions(positions, prior)
            if bitmaps.num_rows:
                new_delete_files = [table.write_position_deletes(bitmaps, run_id)]
            per_file_deletes = dict(zip(
                map(norm_path, bitmaps.column("file_path").to_pylist()),
                bitmaps.column("n_positions").to_pylist(),
            ))
        n_matched = int(sum(per_file_deletes.values()))
        stage_t["probe_delete_sec"] = round(_time.time() - _t0, 3)
        _t0 = _time.time()

        # --- inserts: final rows that are not deletes ---------------------
        inserts = final.filter(F.col("op") != "D").select(*cols)
        n_inserts = n_final - int(head["nd"] or 0)
        new_data_files = []
        if n_inserts > 0:
            # bin by BYTES, not rows: wide binary payloads would turn a
            # row-count bin into one multi-GB serial write task. Average
            # row size comes from the target table's own manifests
            # (free metadata); fresh files target 128 MiB snappy
            # (mooncake_table_config.rs:24).
            from moonlink_spark.catalog.metadata import FRESH_TARGET_BYTES

            existing_files = table.data_files()
            tot_rows = sum(f.record_count for f in existing_files)
            tot_bytes = sum(f.file_size_bytes for f in existing_files)
            if tot_rows > 0:
                est_bytes = n_inserts * (tot_bytes / tot_rows)
                nb = max(1, -(-int(est_bytes) // FRESH_TARGET_BYTES))
            else:
                nb = max(1, -(-n_inserts // rows_per_file))
            binned = inserts.withColumn("_bin", hash_bin(key, nb))
            new_data_files = write_datafiles(
                binned,
                data_dir=table.catalog.data_dir,
                run_id=run_id,
                key=key,
                num_bins=nb,
                compression="snappy",
                lineage_dir=ins_lineage,
            )
        stage_t["insert_write_sec"] = round(_time.time() - _t0, 3)
    finally:
        final.unpersist()
    _t0 = _time.time()

    # --- atomic commit ----------------------------------------------------
    # a re-run of a completed run_id rewrites the same file names; exclude
    # them from "existing" or they'd be committed twice (same guard as
    # compaction's survivor set). compact/cluster can't race (they take the
    # same lock), but lock-free appends can — commit_files rebuilds the list
    # on top of them (their rows were not visible at plan time and are
    # correctly left unprobed).
    out_set = {norm_path(f.file_path) for f in new_data_files}
    out_del = {norm_path(f.file_path) for f in new_delete_files}
    planned_paths = {norm_path(f.file_path) for f in all_files}

    def build(data, deletes):
        data = [f for f in data if norm_path(f.file_path) not in out_set]
        # rebase safety: folding a concurrent append in unprobed is only
        # sound when its key range can't intersect the batch's — otherwise
        # fail retryable instead of committing a duplicate-key state
        if n_final > 0:
            foreign = _overlapping_foreign_appends(
                data, planned_paths, out_set, key, head["klo"], head["khi"]
            )
            if foreign:
                raise ConcurrentAppendOverlap(
                    f"{len(foreign)} file(s) appended during merge run "
                    f"{run_id} overlap the batch key range "
                    f"[{head['klo']!r}, {head['khi']!r}] — re-run the merge "
                    f"(same run_id) to probe them"
                )
        for f in data:
            extra = per_file_deletes.get(norm_path(f.file_path), 0)
            if extra:
                f.deleted_count += int(extra)
        prior_deletes = [d for d in deletes if norm_path(d.file_path) not in out_del]
        return data + new_data_files, prior_deletes + new_delete_files

    sid = table.commit_files(
        "merge",
        build,
        summary={
            "run_id": run_id,
            "matched-keys": n_matched,
            "added-records": n_inserts,
            "added-files": len(new_data_files),
            "added-delete-files": len(new_delete_files),
            "flush-lsn": flush_lsn,
            "probed-files": len(probe_files),
            "total-files": len(all_files),
        },
    )
    stage_t["commit_sec"] = round(_time.time() - _t0, 3)
    # stage split in lineage (same observability as cluster's metrics.json):
    # lww_head = LWW collapse + one-action scalars and keys, probe = index
    # lookup + DV write, insert write, commit = manifest publish
    os.makedirs(lineage_root, exist_ok=True)
    with open(os.path.join(lineage_root, "metrics.json"), "w") as fh:
        import json as _json

        _json.dump({
            "op": "merge",
            "matched_keys": n_matched,
            "inserted_rows": n_inserts,
            "probed_files": len(probe_files),
            "total_files": len(all_files),
            "stage_seconds": stage_t,
        }, fh)
    return MergeResult(
        snapshot_id=sid,
        inserted_rows=n_inserts,
        deleted_positions=n_matched,
        matched_keys=n_matched,
    )
