"""MERGE INTO — the CDC upsert kernel, mirroring moonlink's apply semantics.

Reference semantics being re-created (SURVEY.md §2 rows 2-3, 10-12; §3.2):
  - change batch rows are (op ∈ {I,U,D}, lsn, <full row>) — moonlink's
    TableEvent stream where Update = Delete(old)+Append(new) at the same LSN
    (moonlink_sink.rs:295-326);
  - per-key last-writer-wins at max lsn (visibility rule in
    snapshot.rs:925-941: a delete at LSN X targets rows committed < X);
  - U is a FULL-ROW replace; I on an existing key upserts; D on a missing
    key is a no-op (delete_if_exists, mooncake_table.rs:1286-1288).

One Spark query applies the batch, as moonlink applies it in one pass over
its in-memory Arrow slice: the LWW window (last_writer_wins) streams into one
mapInArrow task per output partition. Each task writes its non-delete rows
through the writer core's file handle (plans/physical._OpenFile: stats,
key-index sidecar, .inprogress + rename, lineage record), rolling over to a
new {run_id}-p{partition:05d}-{seq:04d} file every rows_per_file rows, and
returns one row with its partition's non-null batch keys, row count, delete
count and max lsn. The change batch is evaluated exactly once, so a
streaming micro-batch is read once. A row whose op is not I/U/D or whose lsn
is NULL fails the query before the window (the strict CDC sources' rule):
LWW would otherwise keep it, send its key to the lookup and drop it from the
inserts, deleting the key's live row.

Delete positions come from an index, as in moonlink, which probes a
persisted hash index per data file (persisted_bucket_hash_map.rs). Here
every data file has a key-index sidecar (catalog/key_index.py): its (key,
pos) rows sorted by key. The driver reads, from the sidecars of the
manifest-pruned target files, only the row groups whose key range holds a
batch key, and keeps the (file_path, pos) of the rows whose key is a batch
key. No Spark job reads target data. The lookup does not consult the
existing deletion vectors, so it returns the live row of each batch key plus
any dead versions of those keys that no rewrite has removed yet. The driver
drops the positions the snapshot's deletion vectors already set (liveness),
folds the rest into one bitmap row per target file (fold_live_positions) and
writes them as one deletion-vector file (the puffin-DV analog) through
MoonTable.write_position_deletes, the writer every DV file goes through. One
atomic snapshot commit publishes the insert files and the DV file.

Driver bounds: the batch keys, batch rows × key bytes; per probed file, its
sidecar footer plus min(sidecar bytes, row groups hit × row-group bytes);
the matched positions, bounded by the batch and the batch keys' history,
never by the table. The only shuffle is the window's, on the change batch;
skewed keys are impossible post-LWW (keys are unique).

Retry: the insert files' lineage records (lineage/<run>/inserts/) are not
used to skip a file. The task must read the batch anyway to report its keys,
and AQE's partition coalescing decides which keys a partition holds, so a
retry need not give a partition the same rows. A retry rewrites the same
names through tmp + rename; a killed attempt's file that the retry does not
name again is never committed, and the orphan sweep removes it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F, types as T

from moonlink_spark.catalog import key_index
from moonlink_spark.catalog.metadata import DataFile, norm_path
from moonlink_spark.plans.physical import _datafile, _OpenFile, file_format
# the merge writes no file through write_datafiles; the name is kept only
# for perfbench/run.py, which wraps it on this module (as compaction keeps
# stage_metrics.json for perfbench/workloads.py)
from moonlink_spark.plans.physical import write_datafiles  # noqa: F401
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


def _reject_malformed(changes: DataFrame) -> DataFrame:
    """*changes* with a check that fails the query on a row whose op is not
    I/U/D or whose lsn is NULL, naming the row's op and lsn."""
    bad = ~F.col("op").isin("I", "U", "D") | F.col("op").isNull() | F.col("lsn").isNull()
    return changes.withColumn("op", F.when(bad, F.raise_error(F.concat(
        F.lit("merge_into: change row with op "),
        F.coalesce(F.concat(F.lit("'"), F.col("op"), F.lit("'")), F.lit("NULL")),
        F.lit(" and lsn "),
        F.coalesce(F.col("lsn").cast("string"), F.lit("NULL")),
        F.lit(" is not an I/U/D event with an lsn"),
    ))).otherwise(F.col("op")))


def _batch_query(
    changes: DataFrame,
    key: str,
    cols: list[str],
    data_dir: str,
    run_id: str,
    rows_per_file: int,
    lineage_dir: str,
) -> DataFrame:
    """The merge's one Spark query: LWW over the checked batch, streamed into
    one writer task per partition. Each task returns one row: ``files``, the
    lineage records (JSON) of the insert files it wrote; ``keys``, its
    non-null batch keys; ``n``, ``nd`` and ``mx``, its final-row count,
    delete count and max lsn. A partition without rows returns none."""
    from pyspark.sql.pandas.types import to_arrow_schema

    final = last_writer_wins(_reject_malformed(changes), key)
    final = final.select(*dict.fromkeys(["op", "lsn", *cols]))
    schema, statless, codec, level = file_format(
        [final.schema[c] for c in cols], "snappy", None
    )
    out = (
        f"files array<string>, keys array<{final.schema[key].dataType.simpleString()}>, "
        "n long, nd long, mx long"
    )
    arrow_out = to_arrow_schema(T.DataType.fromDDL(out))

    def _apply(batches):
        import json

        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId()
        # attempt-scoped temp suffix, as in the writer core: a re-executed
        # attempt writes the same final names, only the rename races
        tmp_suffix = f".inprogress.{ctx.taskAttemptId()}"
        records: list[str] = []
        keys: list = []
        tops: list[int] = []
        n = nd = 0
        f = None
        for rb in batches:
            if not len(rb):
                continue
            is_del = pc.equal(rb.column("op"), "D")
            n += len(rb)
            nd += pc.sum(is_del).as_py() or 0
            tops.append(pc.max(rb.column("lsn")).as_py())
            keys += pc.drop_null(rb.column(key)).to_pylist()
            rows = rb.filter(pc.invert(is_del)).select(cols)
            if rows.schema != schema:
                rows = rows.cast(schema)
            while len(rows):
                if f is None:
                    seq = len(records)
                    path = os.path.join(data_dir, f"{run_id}-p{part:05d}-{seq:04d}.parquet")
                    f = _OpenFile(
                        path, part, tmp_suffix, schema, codec, level, statless, key, seq
                    )
                take = min(len(rows), rows_per_file - f.count)
                f.write(rows.slice(0, take))
                rows = rows.slice(take)
                if f.count >= rows_per_file:
                    records.append(json.dumps(f.close(lineage_dir)))
                    f = None
        if f is not None:
            records.append(json.dumps(f.close(lineage_dir)))
        if n:
            yield pa.RecordBatch.from_pylist(
                [{"files": records, "keys": keys, "n": n, "nd": nd, "mx": max(tops)}],
                schema=arrow_out,
            )

    return final.mapInArrow(_apply, out)


def _merge_locked(
    table: MoonTable,
    changes: DataFrame,
    run_id: str,
    rows_per_file: int,
) -> MergeResult:
    key = table.key_columns[0]
    cols = [f.name for f in table.schema.fields]
    # per-partition lineage (north rule) for the INSERT files only; the
    # DELETE file gets none on purpose: its positions come from TABLE STATE,
    # which a lock-free append can change between a failed attempt and its
    # retry. It is re-written fully on retry (idempotent: same file name,
    # tiny bitmaps).
    lineage_root = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
    ins_lineage = os.path.join(lineage_root, "inserts")
    os.makedirs(ins_lineage, exist_ok=True)

    stage_t: dict[str, float] = {}
    t0 = time.time()
    rows = _batch_query(
        changes, key, cols, data_dir=table.catalog.data_dir, run_id=run_id,
        rows_per_file=rows_per_file, lineage_dir=ins_lineage,
    ).collect()
    new_data_files: list[DataFile] = sorted(
        (_datafile(json.loads(rec)) for r in rows for rec in r["files"]),
        key=lambda d: d.file_path,
    )
    # the batch keys for the index lookup and their bounds for manifest
    # pruning (null keys match nothing and are not reported)
    keys = [k for r in rows for k in r["keys"]]
    klo, khi = (min(keys), max(keys)) if keys else (None, None)
    n_final = sum(r["n"] for r in rows)
    n_inserts = sum(f.record_count for f in new_data_files)
    # every non-delete final row lands in exactly one written file
    expected = n_final - sum(r["nd"] for r in rows)
    if n_inserts != expected:
        raise RuntimeError(f"merge run {run_id} wrote {n_inserts} rows for {expected} inserts")
    # commit-LSN baseline (mooncake_table.rs:1290-1312: the snapshot's
    # flush_lsn = highest lsn applied, consumed by read-at-LSN scans),
    # clamped monotonic: an empty batch or an out-of-order CDC file whose
    # max lsn is below an earlier batch's must never REGRESS the flush-lsn —
    # scan_at_lsn(X) would otherwise pick this snapshot and return rows with
    # lsn > X
    flush_lsn = max([table.current_flush_lsn(), *(r["mx"] for r in rows)])
    stage_t["lww_head_sec"] = round(time.time() - t0, 3)
    t0 = time.time()

    # --- position resolution: the key-index sidecars (hash_index.rs analog)
    # manifest-stats file pruning: a file whose [min,max] key range can't
    # intersect the batch's key range can't hold a matching row — skip
    # probing it entirely (the moonlink analog: per-file min/max Datum stats
    # gating the index probe; on a key-clustered table this turns a
    # full-table lookup into a few files). Data files, probed files and
    # prior deletion vectors all come from one pinned snapshot.
    planned_sid = table.current_snapshot_id()
    all_files = table.data_files(planned_sid)
    if n_final == 0:
        probe_files = []  # empty batch: nothing can match, skip the probe
    elif klo is not None:
        probe_files = table.plan_files({key: (klo, khi)}, snapshot_id=planned_sid)
    else:
        probe_files = all_files
    new_delete_files: list = []
    per_file_deletes: dict[str, int] = {}
    if probe_files:
        positions = key_index.lookup(probe_files, keys)
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
    stage_t["probe_delete_sec"] = round(time.time() - t0, 3)
    t0 = time.time()

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
                data, planned_paths, out_set, key, klo, khi
            )
            if foreign:
                raise ConcurrentAppendOverlap(
                    f"{len(foreign)} file(s) appended during merge run "
                    f"{run_id} overlap the batch key range "
                    f"[{klo!r}, {khi!r}] — re-run the merge "
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
    stage_t["commit_sec"] = round(time.time() - t0, 3)
    # stage split in lineage (same observability as cluster's metrics.json):
    # lww_head = the one query (LWW, insert write, keys and scalars),
    # probe = index lookup + DV write, commit = manifest publish
    with open(os.path.join(lineage_root, "metrics.json"), "w") as fh:
        json.dump({
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
