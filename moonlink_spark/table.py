"""MoonTable — the table façade: create / load / append / scan / commit.

Re-creates moonlink's MooncakeTable + IcebergTableManager surface
(reference: storage/mooncake_table.rs:85-184; iceberg_table_manager.rs) as a
thin driver-side coordinator over the FileCatalog. All data movement is
Spark; the table object only shuffles metadata.

Snapshot isolation: a scan at snapshot S reads exactly the data files of S
minus the position deletes of S — never mid-maintenance state. Commits are
serialized by the catalog CAS (catalog.py), mirroring moonlink's
single-event-loop + version-hint CAS guarantee (SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import logging
import os
import uuid

_LOG = logging.getLogger("moonlink_spark.table")

from pyspark.sql import DataFrame, SparkSession, functions as F
import pyspark.sql.types as T

from moonlink_spark.catalog.catalog import CommitConflict, FileCatalog
from moonlink_spark.catalog.manifests import (
    read_data_manifests,
    read_delete_manifests,
    write_data_manifests,
    write_delete_manifests,
)
from moonlink_spark.catalog.metadata import (
    FRESH_TARGET_BYTES,
    MANIFEST_MAX_ENTRIES,
    DataFile,
    DeleteFile,
    Snapshot,
    TableMetadata,
    assign_field_ids,
    file_path_col,
    norm_path,
    schema_paths,
)
from moonlink_spark.plans.physical import write_datafiles

# broadcast a scan's deletion-vector bitmap rows up to this decoded size
_BROADCAST_DELETES_BYTES = 256 * 1024 * 1024

# a row at (_fp, _pos) is deleted when its bit is set in a bitmap row of its
# file; a position past the bitmap's last word reads NULL (get, not [])
_DV_BIT_SET = (
    "(shiftright(get(_dv_words, CAST(shiftright(_pos, 6) AS INT)), "
    "CAST(_pos & 63 AS INT)) & 1) = 1"
)

# sentinel: "caller did not pass expected_parent_snapshot" (None is a valid
# expectation — committing against an empty table)
_UNSET = object()

# the at-rest schema of a bitmap deletion-vector file (DeleteFile)
BITMAP_SCHEMA = "file_path string, words array<bigint>, n_positions long"

# maintenance-lock heartbeat TTL: an acquirer may break a lock whose
# heartbeat (mtime, refreshed every ttl/4 by the holder) is older than this
MAINTENANCE_LOCK_TTL_SECONDS = 900.0


def _path_ancestors(path: str) -> list[str]:
    parts = path.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts))]


def _prune_struct(st: "T.StructType", provided: set[str], prefix: str) -> "T.StructType":
    """Read-schema for one file group: only PROVIDED paths survive; a
    struct whose provided children all vanished is dropped wholesale (an
    empty struct can't be read from parquet — it is rebuilt as NULL)."""
    fields = []
    for f in st.fields:
        p = prefix + f.name
        if p not in provided:
            continue
        dt = f.dataType
        if isinstance(dt, T.StructType):
            dt = _prune_struct(dt, provided, p + ".")
            if not dt.fields:
                continue
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def _struct_paths(st: "T.StructType", prefix: str = "") -> set[str]:
    out: set[str] = set()
    for f in st.fields:
        p = prefix + f.name
        out.add(p)
        if isinstance(f.dataType, T.StructType):
            out |= _struct_paths(f.dataType, p + ".")
    return out


def _project_by_path(path: str, dtype, readable: set[str]):
    """Column expression reconstructing *path* at its full current type
    from a pruned reader: unreadable paths become typed NULLs; structs are
    rebuilt field-by-field (holes filled with NULL) while preserving
    row-level struct nullity (a NULL struct stays NULL, not a struct of
    NULLs)."""
    if path not in readable:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.StructType):
        kids = [
            _project_by_path(f"{path}.{f.name}", f.dataType, readable).alias(f.name)
            for f in dtype.fields
        ]
        return F.when(F.col(path).isNotNull(), F.struct(*kids))
    return F.col(path)


class MaintenanceInProgress(Exception):
    """Another maintenance job holds this table's advisory lock."""


class MoonTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.catalog = FileCatalog(root)
        self.root = self.catalog.root

    # ------------------------------------------------------------- lifecycle
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_columns: list[str],
        properties: dict | None = None,
    ) -> "MoonTable":
        t = MoonTable(spark, root)
        t.catalog.ensure_dirs()
        if t.catalog.exists():
            raise FileExistsError(f"table already exists at {root}")
        ids, next_id = assign_field_ids(schema)
        meta = TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=t.root,
            schema_json=schema.json(),
            key_columns=list(key_columns),
            properties=properties or {},
            field_ids=ids,
            next_field_id=next_id,
        )
        t.catalog.commit(meta, expected_version=0)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "MoonTable":
        t = MoonTable(spark, root)
        t.catalog.load()  # raises if absent
        return t

    # ------------------------------------------------------------- metadata
    @property
    def meta(self) -> TableMetadata:
        return self.catalog.load()

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.meta.schema_json))

    @property
    def key_columns(self) -> list[str]:
        return self.meta.key_columns

    def current_snapshot_id(self) -> int | None:
        return self.meta.current_snapshot_id

    def snapshots(self) -> list[Snapshot]:
        return self.meta.snapshots

    def data_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        meta = self.meta
        snap = (
            meta.current_snapshot()
            if snapshot_id is None
            else meta.snapshot_by_id(snapshot_id)
        )
        if snap is None:
            return []
        return read_data_manifests(self.catalog.metadata_dir, snap.manifests)

    def delete_files(self, snapshot_id: int | None = None) -> list[DeleteFile]:
        meta = self.meta
        snap = (
            meta.current_snapshot()
            if snapshot_id is None
            else meta.snapshot_by_id(snapshot_id)
        )
        if snap is None:
            return []
        return read_delete_manifests(self.catalog.metadata_dir, snap.delete_manifests)

    # ------------------------------------------------------------- commit
    def commit_snapshot(
        self,
        operation: str,
        data_files: list[DataFile],
        delete_files: list[DeleteFile],
        summary: dict | None = None,
        force_rewrite: bool = False,
        expected_parent_snapshot: int | None | object = _UNSET,
        stage_only: bool = False,
        parent_override: int | None = None,
    ) -> int:
        """Commit the *complete* new file state as a snapshot via catalog CAS.
        Returns the new snapshot id.

        *stage_only* is the write half of write-audit-publish (Iceberg's WAP
        pattern): the snapshot is durably recorded with the current snapshot
        as its parent, but the table's current pointer does NOT move — no
        reader sees the data until publish_snapshot() flips the pointer
        after the audit passes (scan(snapshot_id=staged) reads it).

        Manifest writes are INCREMENTAL (O(delta), not O(table)): chunks of
        the parent snapshot whose entries are unchanged are reused by name;
        only added files and files in touched chunks get fresh chunks
        (reference behaviour: data_file_manifest_manager.rs:54-100 drops
        removed entries and rolls at 25k). *force_rewrite* coalesces
        everything into freshly rolled chunks (the rewrite_manifests job).

        *expected_parent_snapshot*: when given, the commit fails with
        CommitConflict if the table's current snapshot is no longer that one.
        This is one attempt, never retried here: a complete file list built
        from an older snapshot would silently drop the files of a commit
        that landed since, even though the version CAS itself succeeds.
        Writers that republish the current file list go through
        commit_files, which builds the list from the pinned metadata, passes
        its snapshot here and retries a lost race on fresh state.
        """
        from moonlink_spark.catalog.manifests import incremental_reuse

        meta, version = self.catalog.load_pinned()
        if expected_parent_snapshot is not _UNSET and (
            meta.current_snapshot_id != expected_parent_snapshot
        ):
            raise CommitConflict(
                f"planned against snapshot {expected_parent_snapshot} but "
                f"current is {meta.current_snapshot_id} under {self.root}"
            )
        # stamp FRESHLY-WRITTEN files (not known to ANY retained snapshot)
        # with the current field-id mapping. Files re-read from manifests
        # carry their write-time ids; legacy files recorded with
        # field_ids=None must NOT be stamped with today's mapping — that
        # would assert today's ids over columns physically written under an
        # unknown older schema. Membership is checked against every retained
        # snapshot, not just the parent: rollback_to republishes files from
        # an OLD snapshot that are absent from the current parent, and a
        # parent-only check would stamp those legacy files with today's ids
        # (the stale-value resurrection this ledger exists to prevent).
        # Manifest chunk names are deduped across snapshots and chunk reads
        # hit the in-process cache, so this stays O(unique chunks).
        if meta.field_ids:
            unstamped = [f for f in data_files if f.field_ids is None]
            if unstamped:
                chunk_names = sorted({n for s in meta.snapshots for n in s.manifests})
                known_paths = {
                    pf.file_path
                    for pf in read_data_manifests(
                        self.catalog.metadata_dir, chunk_names
                    )
                }
                for f in unstamped:
                    if f.file_path not in known_paths:
                        f.field_ids = dict(meta.field_ids)
        seq = meta.last_sequence_number + 1
        # *parent_override*: branch commits parent at the BRANCH head, not
        # the table's current snapshot (used with stage_only=True — main's
        # pointer never moves); manifest chunk reuse follows the same parent
        parent = (
            meta.snapshot_by_id(parent_override)
            if parent_override is not None
            else meta.current_snapshot()
        )
        max_entries = int(meta.properties.get("manifest.max-entries", MANIFEST_MAX_ENTRIES))
        if force_rewrite or parent is None:
            manifests = write_data_manifests(
                self.catalog.metadata_dir,
                sorted(data_files, key=lambda d: d.file_path),
                max_entries=max_entries,
            )
            delete_manifests = write_delete_manifests(
                self.catalog.metadata_dir,
                sorted(delete_files, key=lambda d: d.file_path),
                max_entries=max_entries,
            )
        else:
            kept, residual = incremental_reuse(
                self.catalog.metadata_dir, parent.manifests, data_files,
                read_data_manifests,
            )
            manifests = kept + write_data_manifests(
                self.catalog.metadata_dir,
                sorted(residual, key=lambda d: d.file_path),
                max_entries=max_entries,
            )
            kept_d, residual_d = incremental_reuse(
                self.catalog.metadata_dir, parent.delete_manifests, delete_files,
                read_delete_manifests,
            )
            delete_manifests = kept_d + write_delete_manifests(
                self.catalog.metadata_dir,
                sorted(residual_d, key=lambda d: d.file_path),
                max_entries=max_entries,
            )
        snap = Snapshot(
            snapshot_id=seq,
            parent_id=parent.snapshot_id if parent is not None else None,
            sequence_number=seq,
            operation=operation,
            manifests=manifests,
            delete_manifests=delete_manifests,
            summary=summary or {},
            timestamp_ms=seq,
        )
        meta.snapshots.append(snap)
        if not stage_only:
            meta.current_snapshot_id = seq
        meta.last_sequence_number = seq
        self.catalog.commit(meta, expected_version=version)
        return seq

    # ------------------------------------------------------------- ingest
    def append(
        self,
        df: DataFrame,
        run_id: str | None = None,
        rows_per_file: int = 131_072,
        num_bins: int | None = None,
        stage_only: bool = False,
        branch: str | None = None,
        flush_lsn: int | None = None,
    ) -> int:
        """Bulk ingest: write *df* as fresh snappy data files and fast-append
        them (reference: batch_ingestion.rs:20-166 + fast-append in
        iceberg_table_syncer.rs:723-838).

        SINGLE-PASS: files roll over at the mem-slice flush threshold
        (131 072 rows, mooncake_table_config.rs:159) inside the write task
        itself — no pre-count, so the input (often a generator or join) is
        scanned exactly once. Callers with a planned layout pass *num_bins*
        instead: *df* then carries an int ``_bin`` column and each bin
        becomes one file (one reduce task per bin).

        *stage_only*: write-audit-publish — the data lands durably but the
        table's current pointer doesn't move; audit with
        scan(snapshot_id=<returned id>), then publish_snapshot() or
        discard_staged().

        *branch*: write to a named branch instead of main — the commit is a
        staged snapshot parented at the BRANCH head (main's pointer never
        moves), then the branch fast-forwards to it. Read it back with
        scan(ref=branch); publish the whole branch with fast_forward_main.

        *flush_lsn*: stamp the commit with an explicit flush-lsn — used by
        the initial-copy bootstrap (initial_copy.rs boundary_lsn: the copy
        snapshot is visible AT that LSN, so CDC apply and read-at-LSN share
        one axis with it from the first commit).
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        if branch is not None and stage_only:
            raise ValueError("branch writes are implicitly staged; drop stage_only")
        if num_bins is not None:
            if "_bin" not in df.columns:
                raise ValueError("append(num_bins=...) needs an int _bin column on df")
            new_files = write_datafiles(
                df,
                data_dir=self.catalog.data_dir,
                run_id=run_id,
                key=self.key_columns[0],
                num_bins=num_bins,
                compression="snappy",
            )
        else:
            from moonlink_spark.plans.physical import write_datafiles_rolling

            new_files = write_datafiles_rolling(
                df,
                data_dir=self.catalog.data_dir,
                run_id=run_id,
                key=self.key_columns[0],
                rows_per_file=rows_per_file,
                compression="snappy",
            )
        if branch is not None:
            head = self.meta.branches.get(branch)
            if head is None:
                raise KeyError(f"branch {branch!r} not found")
            sid = self.commit_snapshot(
                "append",
                self.data_files(snapshot_id=head) + new_files,
                self.delete_files(snapshot_id=head),
                summary={
                    "added-files": len(new_files),
                    "added-records": sum(f.record_count for f in new_files),
                    "run_id": run_id,
                    "branch": branch,
                    "staged": True,  # not on main history until fast-forward
                    **({"flush-lsn": flush_lsn} if flush_lsn is not None else {}),
                },
                stage_only=True,
                parent_override=head,
            )
            self.advance_branch(branch, sid)
            return sid
        return self.commit_files(
            "append",
            lambda data, deletes: (data + new_files, deletes),
            summary={
                "added-files": len(new_files),
                "added-records": sum(f.record_count for f in new_files),
                "run_id": run_id,
                **({"staged": True} if stage_only else {}),
                **({"flush-lsn": flush_lsn} if flush_lsn is not None else {}),
            },
            stage_only=stage_only,
        )

    def commit_files(
        self, operation: str, build, summary: dict,
        force_rewrite: bool = False, stage_only: bool = False,
    ) -> int:
        """Commit the complete file state *build(data_files, delete_files)*
        returns, given the current snapshot's lists. Both are read from the
        metadata FileCatalog.update pinned, and commit_snapshot checks its
        parent against the same snapshot: a commit landing in between loses
        the race, and the next attempt rebuilds the lists on top of it, so
        no published file is ever dropped (the etag-retry semantics of
        file_catalog.rs:639-665). *build* runs once per attempt and may
        raise to refuse the commit."""

        def files(meta: TableMetadata) -> tuple[list[DataFile], list[DeleteFile]]:
            snap = meta.current_snapshot()
            if snap is None:
                return build([], [])
            return build(
                read_data_manifests(self.catalog.metadata_dir, snap.manifests),
                read_delete_manifests(self.catalog.metadata_dir, snap.delete_manifests),
            )

        def publish(meta: TableMetadata, built) -> int:
            return self.commit_snapshot(
                operation, *built, summary=summary, force_rewrite=force_rewrite,
                expected_parent_snapshot=meta.current_snapshot_id, stage_only=stage_only,
            )

        return self.catalog.update(files, f"commit {operation}", publish)

    def add_files(self, paths: list[str], run_id: str | None = None) -> int:
        """Register EXISTING parquet files as-is — no read, no rewrite, no
        validation of row contents (moonlink's bulk ingest loads files
        verbatim, batch_ingestion.rs:20-166). Stats and row counts come from
        a distributed parquet-footer read, so table-level planning
        (compaction selection, manifest stats) works immediately. The same
        job reads each file's key column and writes its key-index sidecar
        into the table's data directory, so a merge or a point read finds
        keys in foreign files as in the table's own.
        """
        from moonlink_spark.catalog.stats import footer_stats

        run_id = run_id or uuid.uuid4().hex[:12]
        norm = [norm_path(p) for p in paths]
        existing_paths = {norm_path(f.file_path) for f in self.data_files()}
        dup = existing_paths & set(norm)
        if dup:
            raise ValueError(f"files already registered: {sorted(dup)[:3]}...")
        got = footer_stats(self.spark, norm, key=self.key_columns[0], index_dir=self.catalog.data_dir)
        new_files = [
            DataFile(
                file_path=p,
                record_count=got[p]["record_count"],
                file_size_bytes=got[p]["file_size_bytes"],
                stats=got[p]["stats"],
                key_index=got[p]["key_index"],
            )
            for p in norm
        ]
        return self.commit_files(
            "add-files",
            lambda data, deletes: (data + new_files, deletes),
            summary={
                "run_id": run_id,
                "added-files": len(new_files),
                "added-records": sum(f.record_count for f in new_files),
            },
        )

    # ------------------------------------------------------------- scan
    def _read_data(self, files: list[DataFile], with_position: bool) -> DataFrame:
        """Read *files* projected through the CURRENT schema by FIELD ID —
        at ANY depth: a field path (top-level or nested struct field,
        dotted like "meta.w") is read from a file only if the file's
        write-time id for that path equals the table's current id (Iceberg
        field-id semantics, iceberg_table_manager.rs:88-89; the reference
        round-trips nested PARQUET:field_id, rest_ingest/schema_util.rs:
        75-180) — otherwise it reads as NULL. This makes drop-then-re-add
        safe at any depth: the re-added (possibly nested) field has a fresh
        id, so pre-drop files can't resurrect stale physical values. Files
        group by their provided-path set (bounded by the number of schema
        versions), one parquet reader per group with a PRUNED read schema
        (unprovided nested fields aren't even decoded), structs rebuilt
        with NULL holes JVM-side, unioned."""
        schema = self.schema
        if not files:
            df = self.spark.createDataFrame([], schema)
            if with_position:
                df = df.withColumn("_fp", F.lit(None).cast("string")).withColumn(
                    "_pos", F.lit(None).cast("long")
                )
            return df

        cur_ids = self.meta.field_ids
        path_list = [p for p, _ in schema_paths(schema)]
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            if not cur_ids or f.field_ids is None:
                provided = tuple(path_list)  # legacy: assume current schema
            else:
                raw = {p for p in path_list if f.field_ids.get(p) == cur_ids.get(p)}
                # a nested path is usable only if every ancestor matched too
                provided = tuple(
                    p for p in path_list
                    if p in raw and all(a in raw for a in _path_ancestors(p))
                )
            groups.setdefault(provided, []).append(f)

        parts: list[DataFrame] = []
        for provided, fs in groups.items():
            sub = _prune_struct(schema, set(provided), "")
            paths = [f.file_path for f in fs]
            reader = self.spark.read.schema(sub).parquet(*paths)
            readable = _struct_paths(sub)
            cols = [
                _project_by_path(fld.name, fld.dataType, readable).alias(fld.name)
                for fld in schema.fields
            ]
            if with_position:
                cols += [
                    file_path_col(paths).alias("_fp"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
            parts.append(reader.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    def read_delete_rows(self, dfiles: list[DeleteFile]) -> DataFrame | None:
        """The logical (file_path, pos) rows of a set of bitmap
        deletion-vector files, expanded JVM-side: posexplode the word array,
        then unpack each non-zero word's set bits with a codegen'd
        transform+filter — no Python worker. Only the Iceberg export (whose
        spec position-delete files hold positions) and tests expand: scans
        test bits (join_deletes) and the DV carry-over ORs bitmap rows. A
        file in any other format raises ValueError."""
        if not dfiles:
            return None
        _check_bitmap(dfiles)
        raw = self.spark.read.schema(BITMAP_SCHEMA).parquet(*[d.file_path for d in dfiles])
        exp = raw.select(
            "file_path", F.posexplode("words").alias("widx", "word")
        ).filter(F.col("word") != 0)
        bits = F.expr(
            "filter(transform(sequence(0, 63), "
            "b -> CASE WHEN (shiftright(word, b) & 1) = 1 "
            "THEN widx * 64 + CAST(b AS BIGINT) END), x -> x IS NOT NULL)"
        )
        return exp.select("file_path", F.explode(bits).alias("pos"))

    def read_bitmap_rows(self, dfiles: list[DeleteFile], file_paths=None) -> "pa.Table | None":
        """The (file_path, words) bitmap rows of *dfiles*, read on the driver
        (a few KB per DV file); with *file_paths*, only rows targeting one of
        them. A file in any other format raises ValueError, as in
        read_delete_rows."""
        import pyarrow.dataset as ds

        if not dfiles:
            return None
        _check_bitmap(dfiles)
        return ds.dataset(
            [d.file_path for d in dfiles], format="parquet", schema=_bitmap_arrow_schema()
        ).to_table(
            columns=["file_path", "words"],
            filter=None if file_paths is None else ds.field("file_path").isin(list(file_paths)),
        )

    def _dv_rows(self, files: list[DataFile], dfiles: list[DeleteFile]) -> DataFrame | None:
        """The bitmap rows of *dfiles* that target *files*, as join_deletes'
        build side (_dv_fp, _dv_words), or None when none does. They are read
        on the driver and broadcast while a metadata-only bound of their
        decoded size, DV rows × (largest scanned record_count / 8 + path
        bytes), fits _BROADCAST_DELETES_BYTES; above it Spark reads them,
        whichever files they target, and the join is forced to shuffle
        (Spark's estimator sees only the at-rest size and would broadcast
        anyway)."""
        if not dfiles:
            return None
        _check_bitmap(dfiles)
        per_row = max((f.record_count // 8 + len(f.file_path) for f in files), default=0)
        if sum(d.record_count for d in dfiles) * per_row > _BROADCAST_DELETES_BYTES:
            return (
                self.spark.read.schema(BITMAP_SCHEMA)
                .parquet(*[d.file_path for d in dfiles])
                .select(F.col("file_path").alias("_dv_fp"), F.col("words").alias("_dv_words"))
                .hint("shuffle_hash")
            )
        import pyarrow as pa

        rows = self.read_bitmap_rows(dfiles)
        scanned = {norm_path(f.file_path) for f in files}
        keep = [norm_path(fp) in scanned for fp in rows.column("file_path").to_pylist()]
        rows = rows.filter(pa.array(keep, pa.bool_()))
        if not rows.num_rows:
            return None
        # one chunk per column: createDataFrame rejects a chunkless column
        return F.broadcast(self.spark.createDataFrame(pa.table(
            [c.combine_chunks() for c in rows.columns], names=["_dv_fp", "_dv_words"]
        )))

    def join_deletes(
        self, df: DataFrame, files: list[DataFile], dfiles: list[DeleteFile], how: str = "left_anti"
    ) -> DataFrame:
        """The rows of *df* (read from *files*, carrying _fp/_pos) that the
        bitmap DVs *dfiles* do not delete (left_anti) or do (left_semi): one
        join on the target path whose condition tests the row's bit, no
        expansion to positions. A target's rows in several DV files OR
        together. No join when no bitmap row targets *files* (_dv_rows)."""
        dv = self._dv_rows(files, dfiles)
        if dv is None:
            return df if how == "left_anti" else df.limit(0)
        return df.join(dv, (F.col("_fp") == F.col("_dv_fp")) & F.expr(_DV_BIT_SET), how)

    def read_live(
        self, files: list[DataFile], dfiles: list[DeleteFile], with_position: bool = False
    ) -> DataFrame:
        """The rows of *files* that the bitmap DVs *dfiles* do not delete,
        with _fp/_pos when *with_position*. Row positions are read only when
        a bitmap row targets a scanned file or the bitmap rows are too large
        to read on the driver (_dv_rows); otherwise there is no join and
        no _metadata column."""
        dv = self._dv_rows(files, dfiles)
        df = self._read_data(files, with_position=with_position or dv is not None)
        if dv is None:
            return df
        df = df.join(dv, (F.col("_fp") == F.col("_dv_fp")) & F.expr(_DV_BIT_SET), "left_anti")
        return df if with_position else df.drop("_fp", "_pos")

    # ------------------------------------------------------- snapshot tags
    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin *snapshot_id* (default: current) under an immutable name
        (Iceberg tag semantics). Tagged snapshots survive expire_snapshots
        until drop_tag. Metadata-only CAS commit; re-creating an existing
        tag at the SAME snapshot is a no-op, at a different one an error
        (tags never move — that's what rollback/branching would be for)."""

        def edit(meta: TableMetadata) -> int:
            sid = meta.current_snapshot_id if snapshot_id is None else snapshot_id
            if sid is None:
                raise ValueError("cannot tag an empty table (no snapshot)")
            meta.snapshot_by_id(sid)  # raises KeyError if expired
            if name in meta.branches:
                raise ValueError(f"{name!r} is a branch; tags and branches share a namespace")
            if name in meta.refs and meta.refs[name] != sid:
                raise ValueError(
                    f"tag {name!r} already points at snapshot {meta.refs[name]} "
                    f"(tags are immutable; drop it first)"
                )
            meta.refs[name] = sid
            return sid

        return self.catalog.update(edit, f"commit tag {name!r}")

    def drop_tag(self, name: str) -> None:
        """Remove a tag; its snapshot becomes expirable again."""

        def edit(meta: TableMetadata) -> None:
            if name not in meta.refs:
                raise KeyError(f"tag {name!r} not found")
            del meta.refs[name]

        self.catalog.update(edit, f"drop tag {name!r}")

    def refs(self) -> dict[str, int]:
        """Current tag name -> snapshot id mapping."""
        return dict(self.meta.refs)

    # ------------------------------------------------------------- branches
    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create a MUTABLE named ref at *snapshot_id* (default: current) —
        Iceberg branch semantics. Writers advance it fast-forward-only via
        append(branch=...) / advance_branch; main's pointer never moves.
        Branch heads and their ancestry are exempt from expiry."""

        def edit(meta: TableMetadata) -> int:
            sid = meta.current_snapshot_id if snapshot_id is None else snapshot_id
            if sid is None:
                raise ValueError("cannot branch an empty table (no snapshot)")
            meta.snapshot_by_id(sid)  # raises KeyError if expired
            if name in meta.branches:
                raise ValueError(f"branch {name!r} already exists")
            if name in meta.refs:
                raise ValueError(f"{name!r} is a tag; tags and branches share a namespace")
            meta.branches[name] = sid
            return sid

        return self.catalog.update(edit, f"create branch {name!r}")

    def drop_branch(self, name: str) -> None:
        """Remove a branch; its unreachable snapshots become expirable."""

        def edit(meta: TableMetadata) -> None:
            if name not in meta.branches:
                raise KeyError(f"branch {name!r} not found")
            del meta.branches[name]

        self.catalog.update(edit, f"drop branch {name!r}")

    def branches(self) -> dict[str, int]:
        """Current branch name -> head snapshot id mapping."""
        return dict(self.meta.branches)

    def _is_ancestor(self, meta: TableMetadata, ancestor: int, descendant: int) -> bool:
        cur: int | None = descendant
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        while cur is not None:
            if cur == ancestor:
                return True
            s = by_id.get(cur)
            cur = s.parent_id if s is not None else None
        return False

    def advance_branch(self, name: str, snapshot_id: int) -> int:
        """Move a branch head FORWARD to *snapshot_id*. Fast-forward only:
        the new head must be a descendant of the current head — a racing
        writer that advanced the branch first makes this fail with
        CommitConflict (retry by re-staging against the new head), never a
        silent overwrite of its commits."""

        def edit(meta: TableMetadata) -> int:
            if name not in meta.branches:
                raise KeyError(f"branch {name!r} not found")
            head = meta.branches[name]
            meta.snapshot_by_id(snapshot_id)  # must exist
            if not self._is_ancestor(meta, head, snapshot_id):
                raise CommitConflict(
                    f"branch {name!r} head {head} is not an ancestor of "
                    f"{snapshot_id} — not a fast-forward (concurrent writer?)"
                )
            meta.branches[name] = snapshot_id
            return snapshot_id

        return self.catalog.update(edit, f"advance branch {name!r}")

    def fast_forward_main(self, branch: str) -> int:
        """Publish a branch: fast-forward the table's current pointer to the
        branch head (current must be an ancestor of the head — otherwise
        main diverged and a merge, not a publish, is required). The branch
        snapshots become visible history: their 'staged' markers are
        stripped so read-at-LSN and the changelog walk them."""

        def edit(meta: TableMetadata) -> int:
            if branch not in meta.branches:
                raise KeyError(f"branch {branch!r} not found")
            head = meta.branches[branch]
            cur = meta.current_snapshot_id
            if cur is not None and not self._is_ancestor(meta, cur, head):
                raise CommitConflict(
                    f"current snapshot {cur} is not an ancestor of branch "
                    f"{branch!r} head {head} — main diverged; cannot fast-forward"
                )
            by_id = {s.snapshot_id: s for s in meta.snapshots}
            walk: int | None = head
            while walk is not None and walk != cur:
                by_id[walk].summary.pop("staged", None)
                walk = by_id[walk].parent_id
            meta.current_snapshot_id = head
            return head

        return self.catalog.update(edit, f"fast-forward to branch {branch!r}")

    # ------------------------------------------------ write-audit-publish
    def publish_snapshot(self, snapshot_id: int) -> int:
        """Atomically make a previously STAGED snapshot the current one
        (the publish half of write-audit-publish). Succeeds only if the
        table hasn't moved since the stage — the staged snapshot's parent
        must still be current; otherwise raises CommitConflict and the
        caller re-stages against fresh state (publishing anyway would drop
        the intervening commits' files from the published list)."""

        def edit(meta: TableMetadata) -> int:
            snap = meta.snapshot_by_id(snapshot_id)
            if meta.current_snapshot_id == snapshot_id:
                return snapshot_id  # already published
            if snap.parent_id != meta.current_snapshot_id:
                raise CommitConflict(
                    f"staged snapshot {snapshot_id} was based on parent "
                    f"{snap.parent_id} but current is {meta.current_snapshot_id} "
                    f"— the table moved since the stage; re-stage and re-audit"
                )
            # the marker means "not yet published" — consumers that walk all
            # snapshots (the read-at-LSN protocol) skip marked ones; strip
            # it now that this snapshot is becoming visible history
            snap.summary.pop("staged", None)
            meta.current_snapshot_id = snapshot_id
            return snapshot_id

        return self.catalog.update(edit, f"publish snapshot {snapshot_id}")

    def discard_staged(self, snapshot_id: int) -> None:
        """Drop an UNPUBLISHED staged snapshot (audit failed). Its files
        become unreachable and the orphan sweep reclaims them. Refuses to
        touch the current snapshot or any snapshot with descendants."""

        def edit(meta: TableMetadata) -> None:
            meta.snapshot_by_id(snapshot_id)  # raises if unknown
            if meta.current_snapshot_id == snapshot_id:
                raise ValueError(f"snapshot {snapshot_id} is published (current) — not staged")
            children = [s.snapshot_id for s in meta.snapshots if s.parent_id == snapshot_id]
            if children:
                raise ValueError(
                    f"snapshot {snapshot_id} has descendants {children} — not a staged leaf"
                )
            if snapshot_id in meta.refs.values():
                raise ValueError(f"snapshot {snapshot_id} is tagged — drop the tag first")
            meta.snapshots = [s for s in meta.snapshots if s.snapshot_id != snapshot_id]

        self.catalog.update(edit, f"discard snapshot {snapshot_id}")

    def scan(
        self,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        with_position: bool = False,
        files: list[DataFile] | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read: data files of the snapshot minus the rows
        whose bit is set in its deletion vectors, one bitmap join
        (read_live; reference read path: snapshot_read.rs:152-241 + the
        DV RowSelection in table_provider.rs).

        Column pruning and filter pushdown stay with Catalyst — when the
        caller filters/projects the returned DataFrame, the parquet scan
        reads only what's needed. *files* restricts the scan to a planner-
        chosen subset (manifest-stats pruning); delete filtering still
        applies. *ref* resolves a tag name to its pinned snapshot.
        """
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either snapshot_id or ref, not both")
            meta = self.meta
            if ref in meta.refs:
                snapshot_id = meta.refs[ref]  # tag
            elif ref in meta.branches:
                snapshot_id = meta.branches[ref]  # branch head
            else:
                raise KeyError(f"ref {ref!r} not found (no such tag or branch)")
        files = self.data_files(snapshot_id) if files is None else files
        df = self.read_live(files, self.delete_files(snapshot_id), with_position)
        if columns:
            df = df.select(*columns)
        return df

    # ----------------------------------------------------- maintenance lock
    def maintenance_lock(
        self,
        job: str,
        run_id: str,
        wait_seconds: float = 0.0,
        ttl_seconds: float = MAINTENANCE_LOCK_TTL_SECONDS,
    ):
        """Advisory mutual exclusion for table-mutating maintenance: at most
        one merge/compaction/clustering in flight per table
        (table_handler.rs:526-609 serializes maintenance through the event
        loop; here an O_EXCL lock file carries {job, run_id, pid} so a
        second scheduler sees who holds it).

        Re-entrant for the SAME run_id: a resumed run (crash, retry) takes
        OWNERSHIP of the existing lock and releases it on exit — otherwise a
        resumed run that completes would leave the lock file behind forever.
        With *wait_seconds* > 0 a blocked acquirer polls until the holder
        releases (bounded), instead of raising immediately.

        LIVENESS: while held, a daemon thread refreshes the lock file's
        mtime every ttl/4 (the heartbeat). An acquirer may BREAK a lock
        whose heartbeat is older than *ttl_seconds* — a holder that died
        without releasing (kill -9, node loss) no longer blocks maintenance
        forever (moonlink's single in-process event loop can't deadlock
        this way, table_handler.rs:202-218; a multi-process advisory lock
        needs the TTL). The break is an atomic rename to a unique stale
        name, so exactly one of several waiting acquirers wins it; the
        losers just retry the normal acquire. Returns a context manager."""
        import contextlib
        import json as _json
        import threading
        import time as _time
        import uuid as _uuid

        lock_path = os.path.join(self.catalog.metadata_dir, "maintenance.lock")

        def _still_ours() -> bool:
            # OWNERSHIP GUARD: a holder stalled past the TTL (GC pause,
            # SIGSTOP, NFS hang) has its lock broken and re-acquired by
            # another job. When the stalled holder resumes, its heartbeat
            # and its release must NOT touch the usurper's lock file —
            # re-read the payload and act only if run_id still matches.
            try:
                with open(lock_path) as f:
                    return _json.load(f).get("run_id") == run_id
            except (FileNotFoundError, _json.JSONDecodeError, OSError):
                return False

        @contextlib.contextmanager
        def _lock():
            owner = False
            stop_beat = threading.Event()
            deadline = _time.monotonic() + wait_seconds
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    owner = True
                    with os.fdopen(fd, "w") as f:
                        _json.dump(
                            {"job": job, "run_id": run_id, "pid": os.getpid()}, f
                        )
                        f.flush()
                    break
                except FileExistsError:
                    pass
                # the holder may release (unlink) or still be writing its
                # payload between our O_EXCL failure and this read — both
                # are transient: retry the acquire
                try:
                    with open(lock_path) as f:
                        holder = _json.load(f)
                    beat_age = _time.time() - os.stat(lock_path).st_mtime
                except (FileNotFoundError, _json.JSONDecodeError, OSError):
                    _time.sleep(0.01)
                    continue
                if holder.get("run_id") == run_id:
                    # re-entrant re-acquire after a crash of the same run:
                    # this process now owns the release
                    owner = True
                    break
                if beat_age > ttl_seconds:
                    # heartbeat expired: the holder is presumed dead. Break
                    # via atomic rename — only one breaker can win it; the
                    # winner owns (and removes) the renamed stale file.
                    stale = lock_path + f".stale.{_uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock_path, stale)
                        os.unlink(stale)
                    except FileNotFoundError:
                        pass  # released or broken by someone else — retry
                    continue
                if _time.monotonic() < deadline:
                    _time.sleep(0.05)
                    continue
                raise MaintenanceInProgress(
                    f"{holder.get('job')} run {holder.get('run_id')} "
                    f"(pid {holder.get('pid')}, heartbeat {beat_age:.1f}s ago) "
                    f"holds the maintenance lock on {self.root}"
                ) from None

            def _heartbeat() -> None:
                interval = max(ttl_seconds / 4.0, 0.01)
                while not stop_beat.wait(interval):
                    if not _still_ours():
                        return  # lock broken/usurped from under us: stop
                    try:
                        os.utime(lock_path)
                    except FileNotFoundError:
                        return  # lock was broken from under us; stop beating

            beat = threading.Thread(target=_heartbeat, daemon=True)
            beat.start()
            try:
                yield
            finally:
                stop_beat.set()
                beat.join(timeout=1.0)
                if owner:
                    if _still_ours():
                        try:
                            os.unlink(lock_path)
                        except FileNotFoundError:
                            pass
                    else:
                        # lock was TTL-broken while we were stalled and now
                        # belongs to someone else: leave it alone
                        _LOG.warning(
                            "maintenance lock on %s lost (TTL-broken) during "
                            "run %s; not releasing", self.root, run_id
                        )

        return _lock()

    # --------------------------------------------------------- read-at-LSN
    def current_flush_lsn(self) -> int:
        """The flush-lsn the current snapshot is visible at: the last
        explicitly recorded flush-lsn in sequence order (snapshots that don't
        advance the LSN — compact/cluster/append — inherit it). Used to clamp
        merge commits monotonic: an empty or out-of-order CDC batch must
        never REGRESS the flush-lsn, or scan_at_lsn(X) would return rows with
        lsn > X (mooncake_table.rs:432-445 keeps flush_lsn monotonic)."""
        eff = 0
        for s in self.meta.snapshots:  # sequence order
            if s.summary.get("staged"):
                continue  # unpublished write-audit-publish stage: invisible
            eff = int(s.summary.get("flush-lsn", eff))
        return eff

    def snapshot_for_lsn(self, lsn: int) -> Snapshot | None:
        """The read-at-LSN protocol (read_state_manager.rs:59-164): return
        the latest snapshot whose flush LSN ≤ *lsn* — a scan at LSN X sees
        exactly the records committed at ≤ X (mooncake_table.rs:432-445).

        Snapshots that don't advance the LSN (compact/cluster/append) inherit
        their parent's flush LSN, so maintenance never changes what a given
        LSN reads."""
        best: Snapshot | None = None
        eff = 0
        for s in self.meta.snapshots:  # sequence order
            if s.summary.get("staged"):
                continue  # unpublished stage must never be readable by LSN
            eff = int(s.summary.get("flush-lsn", eff))
            if eff <= lsn:
                best = s
        return best

    def scan_at_lsn(self, lsn: int, columns: list[str] | None = None) -> DataFrame:
        """Snapshot-isolated scan at an LSN watermark. Raises if no snapshot
        is visible at *lsn* (moonlink would block until replication catches
        up; in batch context that's an error)."""
        snap = self.snapshot_for_lsn(lsn)
        if snap is None:
            raise ValueError(f"no snapshot visible at lsn {lsn}")
        return self.scan(snapshot_id=snap.snapshot_id, columns=columns)

    def plan_files(
        self,
        bounds: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> list[DataFile]:
        """Manifest-stats FILE SKIPPING: return only the data files whose
        per-column [min, max] ranges can intersect every (lo, hi) bound in
        *bounds* (either end may be None = unbounded). This is Iceberg-style
        scan planning from metadata alone — no data read — and is what
        Z-order/Hilbert clustering exists to amplify: after a cluster
        rewrite, each file covers a tight key range, so a range predicate
        prunes most files here before Spark ever lists them
        (the reference analog: per-file Datum stats gating the index probe,
        parquet_stats_utils.rs).

        An equality bound on the key column (lo == hi, a point read) then
        keeps only the survivors whose key-index sidecar holds the key, dead
        versions included (the scan's deletion vectors drop those rows)."""
        out = []
        for f in self.data_files(snapshot_id):
            keep = True
            for col, (lo, hi) in bounds.items():
                st = f.stats.get(col) or {}
                mn, mx = st.get("min"), st.get("max")
                if mn is None or mx is None:
                    continue  # no stats -> cannot skip
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    keep = False
                    break
            if keep:
                out.append(f)
        lo, hi = bounds.get(self.key_columns[0], (None, None))
        if lo is not None and lo == hi:
            from moonlink_spark.catalog.key_index import lookup

            holding = set(lookup(out, [lo]).column("file_path").to_pylist())
            out = [f for f in out if norm_path(f.file_path) in holding]
        return out

    def create_or_replace_view(self, name: str, snapshot_id: int | None = None) -> None:
        """Expose the (snapshot-isolated) scan as a Spark SQL temp view, so
        any SQL client of the session queries the table like a catalog
        table — the Spark-native analog of moonlink serving external engines
        through scan_table / the DataFusion TableProvider (SURVEY §2 rows
        27-28): here Spark SQL IS the external query engine, and predicate
        pushdown / column pruning flow into the parquet scan via Catalyst."""
        self.scan(snapshot_id=snapshot_id).createOrReplaceTempView(name)

    # ------------------------------------------------------------- lifecycle
    def drop(self) -> None:
        """Drop the table: delete data, metadata, and the table directory
        (table_handler.rs:158-185 — drop iceberg table + WAL + local dir)."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)

    # ------------------------------------------------------------- utils
    def all_reachable_paths(self) -> set[str]:
        """Every data file, key-index sidecar and delete file referenced by
        ANY retained snapshot (used by the orphan sweep)."""
        out: set[str] = set()
        meta = self.meta
        for s in meta.snapshots:
            for f in read_data_manifests(self.catalog.metadata_dir, s.manifests):
                out.add(norm_path(f.file_path))
                out.add(norm_path(f.key_index))
            for d in read_delete_manifests(self.catalog.metadata_dir, s.delete_manifests):
                out.add(norm_path(d.file_path))
        return out

    def carry_over_deletes(self, victims: set[str], run_id: str) -> tuple[list[DeleteFile], int]:
        """The DV carry-over of a rewrite that removes the data files
        *victims* (normalized paths): the table's bitmap rows that target a
        surviving file, OR'd into one row per target, written as one fresh
        DV file under *run_id*-dv, and their position count. Victims'
        deletes die with the victims (the rewrite applied them inline).
        Driver-side, no Spark job: it holds every DV row of the snapshot,
        DV rows × (words × 8 + path bytes), a few KB per DV file. When
        every data file is a victim no survivor can carry a delete, so
        nothing is read (lock-free appends are DV-free by construction:
        only the lock-holding merge writes DVs)."""
        import numpy as np
        import pyarrow as pa

        delete_files = self.delete_files()
        if not delete_files or {norm_path(f.file_path) for f in self.data_files()} <= victims:
            return [], 0
        rows = self.read_bitmap_rows(delete_files)
        keep = [norm_path(fp) not in victims for fp in rows.column("file_path").to_pylist()]
        merged = _or_bitmap_rows(rows.filter(pa.array(keep, pa.bool_())))
        if not merged:
            return [], 0
        fps = sorted(merged)
        counts = [int(np.unpackbits(merged[fp].view(np.uint8)).sum()) for fp in fps]
        bitmaps = _bitmap_rows(fps, [merged[fp].view(np.int64) for fp in fps], counts)
        return [self.write_position_deletes(bitmaps, run_id + "-dv")], sum(counts)

    def write_position_deletes(self, bitmaps: "pa.Table", run_id: str) -> DeleteFile:
        """Write bitmap rows (BITMAP_SCHEMA, one per target file, as
        fold_live_positions returns them) as ONE deletion-vector file,
        del-{run_id}-b00000.parquet, through the writer core's file handle
        (.inprogress + rename). The engine's only DV writer: the merge, the
        compaction/clustering carry-over and the Iceberg importer all fold
        on the driver and write here."""
        from moonlink_spark.plans.physical import _OpenFile

        name = f"del-{run_id}-b00000.parquet"
        out = _OpenFile(
            os.path.join(self.catalog.data_dir, name), 0, f".inprogress.{os.getpid()}",
            _bitmap_arrow_schema(), "snappy", None, set(),
        )
        for rb in bitmaps.to_batches():
            out.write(rb)
        rec = out.close(None)
        return DeleteFile(
            file_path=rec["file_path"],
            record_count=rec["record_count"],
            file_size_bytes=rec["file_size_bytes"],
            position_count=sum(bitmaps.column("n_positions").to_pylist()),
        )


def completed_run(table: MoonTable, op: str, run_id: str) -> Snapshot | None:
    """The snapshot a run of *op* ("merge", "compact", "cluster") committed
    under *run_id*, or None: exactly-once per run_id. A retry of a completed
    run returns that snapshot and writes nothing: a merge would probe its
    own output, and a rewrite would write its committed deletion-vector
    file again, changing a file that a retained snapshot references. Same
    pattern as streaming epoch replay / Iceberg txn-version checks; the
    retry window must precede snapshot expiry, like moonlink's WAL
    truncation horizon (wal.rs truncates only ≤ the iceberg-persisted
    LSN)."""
    for s in table.snapshots():
        if s.operation == op and s.summary.get("run_id") == run_id:
            return s
    return None


def _check_bitmap(dfiles: list[DeleteFile]) -> None:
    for d in dfiles:
        if d.format != "bitmap":
            raise ValueError(
                f"delete file {d.file_path} has format {d.format!r}; "
                "only 'bitmap' deletion vectors can be read"
            )


def _bitmap_arrow_schema() -> "pa.Schema":
    """BITMAP_SCHEMA as the Arrow schema the writer core gives it."""
    import pyarrow as pa

    return pa.schema([
        ("file_path", pa.string()),
        ("words", pa.list_(pa.field("element", pa.int64()))),
        ("n_positions", pa.int64()),
    ])


def _bitmap_rows(file_paths: list, words: list, counts: list) -> "pa.Table":
    """Bitmap rows (BITMAP_SCHEMA) from one list per column."""
    import pyarrow as pa

    schema = _bitmap_arrow_schema()
    return pa.table(
        [
            pa.array(file_paths, pa.string()),
            pa.array(words, schema.field("words").type),
            pa.array(counts, pa.int64()),
        ],
        schema=schema,
    )


def _or_bitmap_rows(rows: "pa.Table") -> "dict[str, np.ndarray]":
    """Each target file's bitmap rows in *rows* (file_path, words) OR'd
    into one uint64 word array, keyed by file_path."""
    import numpy as np

    out: dict[str, np.ndarray] = {}
    for fp, w in zip(rows.column("file_path").to_pylist(), rows.column("words").to_pylist()):
        w = np.asarray(w, dtype=np.int64).view(np.uint64)
        have = out.get(fp)
        if have is not None:
            w = np.pad(w, (0, max(0, len(have) - len(w))))
            w[: len(have)] |= have
        out[fp] = w
    return out


def fold_live_positions(positions: "pa.Table", prior: "pa.Table | None" = None) -> "pa.Table":
    """Fold (file_path, pos) rows into bitmap rows (BITMAP_SCHEMA), one per
    target file, sorted by file_path: a dense word array up to the last set
    position and its popcount — after dropping every position already set
    in *prior* bitmap rows. A file's prior set is the OR of all of its
    rows; a file left with no new position gets no row."""
    import numpy as np

    dead = _or_bitmap_rows(prior) if prior is not None else {}
    paths = positions.column("file_path").to_numpy(zero_copy_only=False)
    pos = positions.column("pos").to_numpy().astype(np.int64)
    files, inv = np.unique(paths, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    groups = np.split(pos[order], np.cumsum(np.bincount(inv, minlength=len(files)))[:-1])
    out_fp, out_words, out_n = [], [], []
    for fp, p in zip(files, groups):
        p = np.unique(p)
        have = dead.get(fp)
        if have is not None:
            have = np.pad(have, (0, max(0, int(p[-1]) // 64 + 1 - len(have))))
            p = p[((have[p >> 6] >> (p & 63).astype(np.uint64)) & np.uint64(1)) == 0]
        if not len(p):
            continue
        words = np.zeros(int(p[-1]) // 64 + 1, dtype=np.uint64)
        np.bitwise_or.at(words, p >> 6, np.uint64(1) << (p & 63).astype(np.uint64))
        out_fp.append(str(fp))
        out_words.append(words.view(np.int64))
        out_n.append(len(p))
    return _bitmap_rows(out_fp, out_words, out_n)
