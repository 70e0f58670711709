"""Incremental changelog reads: row-level changes between two snapshots.

The CDC-OUT surface (Iceberg's incremental/changelog read; the counterpart
of moonlink's CDC-in apply — a downstream consumer replays exactly what a
span of commits did to the table):

    scan_changes(table, from_snapshot_id, to_snapshot_id)
      -> DataFrame[_change_op ('I'|'D'), _change_snapshot_id, <row payload>]

Semantics per snapshot in (from, to], walked in sequence order:

- append / add-files: every row of the snapshot's ADDED data files is an
  'I' change.
- merge: added data files are 'I' rows (the post-image of upserts + fresh
  inserts); the snapshot's ADDED position-delete files identify the
  pre-image rows — read from the PARENT snapshot's file set by position —
  emitted as 'D'. An update therefore appears as D(old) + A(new), exactly
  the decomposition moonlink's CDC stream uses (moonlink_sink.rs:295-326).
- rollback (or any future op that DROPS files / delete files): the diff is
  total — REMOVED data files emit their previously-live rows as 'D', and
  REMOVED delete files emit the rows they had suppressed as 'I' (restored),
  minus any position still deleted in the new state. Added files likewise
  subtract the snapshot's own deletes on them, so a rollback INTO a
  DV-carrying state never replays suppressed rows as inserts.
- compact / cluster / rewrite-manifests / alter / expire: row sets are
  preserved by construction, so the LOGICAL changelog is empty — file-level
  rewrites are skipped entirely (Iceberg's changelog scan does the same).

Scale shape: each delta is a column-pruned parquet scan of only the files
ADDED by that snapshot, plus (for merges) a bitmap semi-join of the
parent scan restricted to the files the new deletes actually reference —
no full-table diff, no driver-side data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from moonlink_spark.catalog.metadata import norm_path
from moonlink_spark.table import MoonTable

# operations that rewrite physical layout without changing the row set
_LAYOUT_ONLY_OPS = {"compact", "cluster", "rewrite-manifests", "alter", "expire"}


def scan_changes(
    table: MoonTable,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Row-level changes committed after *from_snapshot_id* up to and
    including *to_snapshot_id* (default: current). Returns the payload
    columns plus `_change_op` ('I' inserted / 'D' deleted pre-image) and
    `_change_snapshot_id`."""
    meta = table.meta
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    if to_snapshot_id is None:
        to_snapshot_id = meta.current_snapshot_id
    if from_snapshot_id not in by_id or to_snapshot_id not in by_id:
        raise KeyError("from/to snapshot not found (expired?)")

    # walk the PARENT CHAIN from `to` back to `from` (exclusive) — not
    # sequence order: staged-but-unpublished snapshots (write-audit-publish)
    # share the sequence numbering but are NOT on the published lineage, and
    # must never appear in a consumer's changelog
    chain: list = []
    cur = by_id[to_snapshot_id]
    while cur.snapshot_id != from_snapshot_id:
        chain.append(cur)
        pid = cur.parent_id
        if pid is None or pid not in by_id:
            raise KeyError(
                f"snapshot {from_snapshot_id} is not a retained ancestor of "
                f"{to_snapshot_id} (expired, or reversed/unpublished lineage)"
            )
        cur = by_id[pid]
    chain.reverse()

    cols = columns or [f.name for f in table.schema.fields]
    parts: list[DataFrame] = []

    prev = by_id[from_snapshot_id]
    for s in chain:
        if s.operation not in _LAYOUT_ONLY_OPS:
            prev_data = table.data_files(prev.snapshot_id)
            cur_data = table.data_files(s.snapshot_id)
            prev_del_entries = table.delete_files(prev.snapshot_id)
            cur_del_entries = table.delete_files(s.snapshot_id)
            prev_files = {norm_path(f.file_path) for f in prev_data}
            cur_files = {norm_path(f.file_path) for f in cur_data}
            prev_dels = {norm_path(d.file_path) for d in prev_del_entries}
            cur_dels = {norm_path(d.file_path) for d in cur_del_entries}
            added_files = [f for f in cur_data if norm_path(f.file_path) not in prev_files]
            removed_files = [f for f in prev_data if norm_path(f.file_path) not in cur_files]
            added_dels = [d for d in cur_del_entries if norm_path(d.file_path) not in prev_dels]
            removed_dels = [d for d in prev_del_entries if norm_path(d.file_path) not in cur_dels]

            def _tag(df: DataFrame, op: str) -> DataFrame:
                return df.withColumn("_change_op", F.lit(op)).withColumn(
                    "_change_snapshot_id", F.lit(s.snapshot_id).cast("long")
                )

            def _targets(dels: list, files: list) -> list:
                # the data files among *files* that *dels* hold bitmap rows
                # for, read on the driver
                rows = table.read_bitmap_rows(dels)
                named = {norm_path(p) for p in rows.column("file_path").to_pylist()}
                return [f for f in files if norm_path(f.file_path) in named]

            if added_files:
                # rows of freshly-added files, minus positions the SAME
                # snapshot already deletes ON THOSE FILES (a merge's insert
                # files carry no deletes; a rollback into a DV-carrying state
                # must not replay suppressed rows)
                ins = table.read_live(added_files, cur_del_entries)
                parts.append(_tag(ins.select(*cols), "I"))
            if removed_files:
                # semantic delete of every row still LIVE in prev (a file
                # dropped together with its DVs must not re-emit rows those
                # DVs had already suppressed)
                old = table.read_live(removed_files, prev_del_entries)
                parts.append(_tag(old.select(*cols), "D"))
            if added_dels:
                # the new deletes name their target files — scan only those
                target_files = _targets(added_dels, prev_data)
                old = table._read_data(target_files, with_position=True)
                pre_image = table.join_deletes(old, target_files, added_dels, "left_semi")
                parts.append(_tag(pre_image.select(*cols), "D"))
            if removed_dels:
                # positions a dropped delete file had suppressed come back
                # to life — IF their target file survives into the new state
                # and the new state doesn't still delete them
                target_files = _targets(removed_dels, cur_data)
                if target_files:
                    live = table._read_data(target_files, with_position=True)
                    back = table.join_deletes(live, target_files, removed_dels, "left_semi")
                    back = table.join_deletes(back, target_files, cur_del_entries)
                    parts.append(_tag(back.select(*cols), "I"))
        prev = s

    if not parts:
        return _empty(table, cols)
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _empty(table: MoonTable, cols: list[str]) -> DataFrame:
    import pyspark.sql.types as T

    schema = T.StructType(
        [f for f in table.schema.fields if f.name in set(cols)]
        + [
            T.StructField("_change_op", T.StringType()),
            T.StructField("_change_snapshot_id", T.LongType()),
        ]
    )
    return table.spark.createDataFrame([], schema)


def scan_changes_at_lsn(
    table: MoonTable,
    from_lsn: int,
    to_lsn: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """LSN-addressed changelog: the row-level changes whose commits became
    visible after *from_lsn* up to *to_lsn* — the CDC-out twin of
    scan_at_lsn (read_state_manager.rs addresses reads the same way). The
    LSNs resolve to snapshots via the same flush-lsn protocol, so a
    downstream consumer can checkpoint a single LSN watermark for both its
    snapshot reads and its change feed."""
    s_from = table.snapshot_for_lsn(from_lsn)
    if s_from is None:
        raise ValueError(f"no snapshot visible at lsn {from_lsn}")
    if to_lsn is None:
        s_to_id = table.current_snapshot_id()
    else:
        s_to = table.snapshot_for_lsn(to_lsn)
        if s_to is None:
            raise ValueError(f"no snapshot visible at lsn {to_lsn}")
        s_to_id = s_to.snapshot_id
    return scan_changes(table, s_from.snapshot_id, s_to_id, columns=columns)
