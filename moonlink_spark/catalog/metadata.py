"""Table metadata model — an Iceberg-*shaped* self-managed metadata store.

Mirrors the structures moonlink persists through its custom Iceberg catalog
(reference: src/moonlink/src/storage/table/iceberg/file_catalog.rs:590-673 for
the versioned metadata json + version-hint, and
storage/mooncake_table.rs:142-184 for DiskFileEntry/Snapshot), re-expressed as
plain dataclasses serialized to JSON.

Layout under a table root:

    <root>/data/<run>-b<bin>.parquet          data files
    <root>/data/del-<run>-b<bin>.parquet      deletion vectors (bitmap rows per target file)
    <root>/metadata/v<N>.metadata.json        table metadata versions
    <root>/metadata/version-hint.text         current version pointer (CAS)
    <root>/metadata/manifest-<uuid>-<i>.json  chunked manifest files
    <root>/metadata/lineage/<run_id>/         per-partition lineage records
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field
from typing import Any

# manifest rollover cap, mirroring moonlink's 25k entries / ~50MiB manifests
# (reference: data_file_manifest_manager.rs:14-15,80-87)
MANIFEST_MAX_ENTRIES = 25_000

# file-size engineering constants lifted from the reference's release config
FRESH_TARGET_BYTES = 128 * 1024 * 1024  # mooncake_table_config.rs:24 (snappy)
COMPACT_TARGET_BYTES = 512 * 1024 * 1024  # compaction_config.rs:52 (zstd)


@dataclass
class DataFile:
    """One parquet data file + stats (≈ Iceberg manifest entry / moonlink
    DiskFileEntry, mooncake_table.rs:142-153)."""

    file_path: str
    record_count: int
    file_size_bytes: int
    # per-column {"min":..,"max":..,"null_count":..} (parquet_stats_utils.rs analog)
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # rows deleted by position-delete files in the current snapshot; drives
    # the delete-ratio compaction trigger (snapshot_maintenance.rs:42-145)
    deleted_count: int = 0
    # sort/cluster provenance: None | "zorder" | "hilbert"
    cluster_by: str | None = None
    # column-name -> field-id mapping AT WRITE TIME (the PARQUET:field_id
    # analog the reference round-trips, iceberg_table_manager.rs:88-89;
    # benches/bench_write.rs:33-45). Scans project a column from this file
    # only if the file's id for that name matches the table's CURRENT id —
    # a column dropped then re-added under the same name gets a FRESH id, so
    # pre-drop files read as NULL instead of resurrecting stale values.
    # None = written before field-ids existed (treated as current-schema).
    field_ids: dict[str, int] | None = None

    @property
    def live_count(self) -> int:
        return self.record_count - self.deleted_count

    @property
    def live_bytes(self) -> int:
        if self.record_count == 0:
            return 0
        return int(self.file_size_bytes * self.live_count / self.record_count)


@dataclass
class DeleteFile:
    """A deletion-vector parquet file.

    format="bitmap", the only format written or read: one row per TARGET
    data file per DV file —
    (file_path string, words array<bigint>, n_positions long) where `words`
    is the packed 64-bit-word bitmap over row positions. Several DV files
    of a snapshot may each hold a row for the same target file (one per
    merge until a rewrite folds them); that file's deleted set is the OR of
    its rows over all of the snapshot's DV files. The parquet-native
    stand-in for moonlink's roaring-bitmap puffin blobs (deletion_vector.rs;
    delete_vector.rs:9-15): a 131072-row file costs ≤16 KB of bitmap
    regardless of delete ratio, ~20× smaller at heavy ratios than the
    (file_path, pos) row form. A scan never expands it to positions: it
    joins each row to its file's bitmap rows and tests the row's bit
    (``MoonTable.join_deletes``). Readers reject any other format.
    """

    file_path: str
    record_count: int
    file_size_bytes: int
    format: str = "bitmap"
    # total deleted positions across the file, recorded for audit; the
    # scan-side broadcast gate counts bitmap rows (record_count) instead
    position_count: int = 0


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    operation: str  # append | merge | compact | cluster | rewrite-manifests | expire
    manifests: list[str]  # relative metadata/ paths of data manifests
    delete_manifests: list[str]
    summary: dict[str, Any] = field(default_factory=dict)
    timestamp_ms: int = 0  # logical clock (= sequence), never wall time


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    schema_json: str  # Spark StructType.json()
    key_columns: list[str]
    current_snapshot_id: int | None = None
    last_sequence_number: int = 0
    snapshots: list[Snapshot] = field(default_factory=list)
    properties: dict[str, Any] = field(default_factory=dict)
    # Iceberg-style field-id ledger: CURRENT column name -> id; ids are never
    # reused, so drop-then-re-add assigns a fresh id and scans of pre-drop
    # files project NULL for the re-added column (see DataFile.field_ids)
    field_ids: dict[str, int] = field(default_factory=dict)
    next_field_id: int = 1
    # named immutable snapshot refs (Iceberg tag semantics): name ->
    # snapshot_id. Tagged snapshots are exempt from expiry until the tag is
    # dropped, so a tag is a durable "release"/audit pin a reader can scan
    # by name long after retain-last-K would have expired it.
    refs: dict[str, int] = field(default_factory=dict)
    # named MUTABLE refs (Iceberg branch semantics): name -> head snapshot
    # id. Branch commits are staged snapshots parented at the branch head
    # (main's pointer never moves); advance is fast-forward-only; heads and
    # their ancestry are exempt from expiry like tags.
    branches: dict[str, int] = field(default_factory=dict)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found (expired?)")

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        d = json.loads(text)
        snaps = [Snapshot(**s) for s in d.pop("snapshots", [])]
        meta = TableMetadata(**{k: v for k, v in d.items()})
        meta.snapshots = snaps
        return meta


def type_children(dt) -> list[tuple[str, Any]]:
    """The named child slots of a Spark type, Iceberg-style: struct fields
    by name, list element as `element`, map sides as `key`/`value`. The
    synthetic names can never collide with struct-field paths (an array or
    map has no named fields of its own)."""
    import pyspark.sql.types as T

    if isinstance(dt, T.StructType):
        return [(f.name, f.dataType) for f in dt.fields]
    if isinstance(dt, T.ArrayType):
        return [("element", dt.elementType)]
    if isinstance(dt, T.MapType):
        return [("key", dt.keyType), ("value", dt.valueType)]
    return []


def schema_paths(schema) -> list[tuple[str, Any]]:
    """All field paths of a Spark StructType in DFS order, as (dotted-path,
    dataType) pairs — nested STRUCT fields get their own path entries
    (`meta` and `meta.w`), and list/map columns get synthetic sub-entries
    (`tags.element`, `attrs.key`, `attrs.value`) so the field-id ledger can
    carry the element/key/value ids Iceberg schemas require
    (rest_ingest/schema_util.rs:75-180 accepts list|array;
    iceberg_table_manager.rs:88-89 round-trips ids at any depth)."""
    out: list[tuple[str, Any]] = []

    def _walk(dt, prefix: str) -> None:
        for name, child in type_children(dt):
            p = prefix + name
            out.append((p, child))
            _walk(child, p + ".")

    _walk(schema, "")
    return out


def assign_field_ids(schema) -> tuple[dict[str, int], int]:
    """Initial ledger: ids 1..n over every path in DFS order; returns
    (ledger, next_field_id)."""
    paths = schema_paths(schema)
    ids = {p: i + 1 for i, (p, _) in enumerate(paths)}
    return ids, len(paths) + 1


def norm_path(p: str) -> str:
    """Normalize a file path as stored in metadata and as reported by Spark's
    _metadata.file_path (which prefixes file:)."""
    if p.startswith("file:///"):
        p = p[7:]
    elif p.startswith("file:/"):
        p = p[5:]
    return os.path.abspath(p)


# characters a local path keeps as they are in Spark's _metadata.file_path URI
_URI_PLAIN = re.compile(r"[A-Za-z0-9/._~!$&'()*+,;=:@-]*")


def file_path_col(paths):
    """Each row's file path in the form manifests and deletion-vector rows
    store (norm_path's), from Spark's _metadata.file_path. That column is a
    URI: a file: prefix, and a space, %, #, ? or non-ASCII character
    %-escaped. The escapes are decoded only when one of *paths* (the files
    read) has such a character; url_decode would read a '+' (literal in a URI
    path) as a space, so '+' is escaped first."""
    from pyspark.sql import functions as F

    fp = F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")
    if all(_URI_PLAIN.fullmatch(norm_path(p)) for p in paths):
        return fp
    return F.url_decode(F.regexp_replace(fp, r"\+", "%2B"))
