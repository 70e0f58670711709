"""Export a MoonTable snapshot as a genuine Apache Iceberg table (v2, or
v3 with Puffin deletion vectors).

What gets written under *dest_root* (all per the public Iceberg spec):

  metadata/v1.metadata.json      format-version 2 table metadata
  metadata/version-hint.text     file-catalog pointer protocol
                                 (file_catalog.rs:590-673 analog)
  metadata/snap-<id>-*.avro      manifest list (Avro, spec field-ids)
  metadata/manifest-*.avro       data + delete manifests (Avro)
  data/icedel-<id>-00000.parquet v2: one position-delete file in the spec
                                 schema (file_path 2147483546,
                                 pos 2147483545)
  data/icedv-<id>-00000.puffin   v3: one Puffin file, one
                                 deletion-vector-v1 blob per referenced
                                 data file (deletion_vector.rs:16-30)

Data parquet files are referenced IN PLACE (no copy), like Iceberg's
add_files import; the schema.name-mapping.default property makes files
written without parquet field-ids resolvable, per the spec.

Sequence numbers: data files are exported at sequence 1, position deletes
at sequence 2 (a position delete applies to data files with sequence ≤ its
own), under a single exported snapshot with sequence-number 2.

At 100 TB: the deletes are built on the driver from the snapshot's bitmap
rows, with no Spark job, as moonlink writes its puffin blobs straight from
the bitmaps it holds. Each target's rows are OR'd into one word array and
expanded to positions one target at a time. The driver holds every bitmap
row of the snapshot, DV rows × (words × 8 + path bytes), plus one target's
positions for v2 (≤ record_count × 8 bytes) or the serialized blobs for v3.
Manifests chunk at 25k entries like our native catalog; the manifest and
metadata writes are O(files/25k) small.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from moonlink_spark.catalog.metadata import norm_path
from moonlink_spark.iceberg.avro_io import write_avro_file
from moonlink_spark.iceberg.spec import (
    MANIFEST_FILE_SCHEMA,
    POS_DELETE_FILE_PATH_ID,
    POS_DELETE_POS_ID,
    bound_bytes,
    field_summaries,
    iceberg_schema_fields,
    iceberg_type,
    manifest_entry_schema,
    name_mapping,
)
from moonlink_spark.table import _or_bitmap_rows

_MANIFEST_MAX_ENTRIES = 25_000


def _flush_lsn_at(meta, snapshot_id: int) -> int:
    """Effective flush-lsn at *snapshot_id*: the last explicitly recorded
    flush-lsn at or before it in sequence order (maintenance snapshots
    inherit — same walk as MoonTable.current_flush_lsn)."""
    eff = 0
    for s in meta.snapshots:
        if s.summary.get("staged"):
            continue
        eff = int(s.summary.get("flush-lsn", eff))
        if s.snapshot_id == snapshot_id:
            break
    return eff


def _target_positions(words) -> "np.ndarray":
    """The set positions of one target's OR'd uint64 word array, ascending:
    bit b of word w is position w * 64 + b."""
    import numpy as np

    bits = np.unpackbits(words.astype("<u8").view(np.uint8), bitorder="little")
    return np.flatnonzero(bits)


def _write_icedel(merged: dict, path: str) -> list[dict]:
    """One spec-schema position-delete parquet at *path* from the OR'd
    bitmaps *merged* ({file_path: words}): one batch per target in sorted
    file_path order, positions ascending (the spec's (file_path, pos)
    order), parquet fields stamped with the reserved Iceberg field-ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("file_path", pa.string(), nullable=False,
                 metadata={b"PARQUET:field_id": str(POS_DELETE_FILE_PATH_ID).encode()}),
        pa.field("pos", pa.int64(), nullable=False,
                 metadata={b"PARQUET:field_id": str(POS_DELETE_POS_ID).encode()}),
    ])
    targets = sorted(merged)
    count = 0
    with pq.ParquetWriter(path + ".inprogress", schema) as writer:
        for fp in targets:
            pos = _target_positions(merged[fp])
            writer.write_batch(pa.record_batch(
                [pa.repeat(pa.scalar(fp, pa.string()), len(pos)), pa.array(pos, pa.int64())],
                schema=schema,
            ))
            count += len(pos)
    os.rename(path + ".inprogress", path)
    return [{
        "file_path": path,
        "record_count": count,
        "file_size_bytes": os.path.getsize(path),
        "min_path": targets[0],
        "max_path": targets[-1],
    }]


def _write_icedv(merged: dict, path: str, snapshot_id: int, seq: int) -> list[dict]:
    """One Puffin file at *path* holding a deletion-vector-v1 blob per
    target of the OR'd bitmaps *merged* ({file_path: words}), in sorted
    file_path order, each with its popcount as cardinality — the
    reference's DV persistence contract (deletion_vector.rs:83-145,
    iceberg_table_syncer.rs:488-557)."""
    from moonlink_spark.iceberg.puffin import DELETION_VECTOR_V1, dv_blob_bytes, write_puffin

    blobs = []
    for fp in sorted(merged):
        pos = _target_positions(merged[fp])
        blobs.append({
            "data": dv_blob_bytes(pos),
            "type": DELETION_VECTOR_V1,
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "properties": {"referenced-data-file": fp, "cardinality": str(len(pos))},
        })
    meta = write_puffin(path, blobs, properties={"created-by": "moonlink_spark"})
    return [
        {
            "puffin_path": path,
            "puffin_size": meta["file_size"],
            "referenced_file": m["properties"]["referenced-data-file"],
            "cardinality": int(m["properties"]["cardinality"]),
            "offset": m["offset"],
            "length": m["length"],
        }
        for m in meta["blobs"]
    ]


def _data_entry(
    f, schema_by_name, field_ids, snapshot_id: int, seq: int,
    first_row_id: int | None = None, partition: dict | None = None,
) -> dict:
    lower, upper = [], []
    for name, st in (f.stats or {}).items():
        sf = schema_by_name.get(name)
        fid = field_ids.get(name)
        if sf is None or fid is None:
            continue
        lo = bound_bytes(sf.dataType, st.get("min"))
        hi = bound_bytes(sf.dataType, st.get("max"))
        if lo is not None:
            lower.append({"key": int(fid), "value": lo})
        if hi is not None:
            upper.append({"key": int(fid), "value": hi})
    return {
        "status": 1,  # ADDED
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 0,
            "file_path": norm_path(f.file_path),
            "file_format": "PARQUET",
            "partition": partition or {},
            "record_count": int(f.record_count),
            "file_size_in_bytes": int(f.file_size_bytes),
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
            "first_row_id": first_row_id,
        },
    }


def _dv_entry(info: dict, snapshot_id: int, seq: int) -> dict:
    """v3 manifest entry for one deletion-vector blob: content=1 pointing
    INTO a puffin file (content_offset/content_size), one entry per
    referenced data file."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 1,
            "file_path": norm_path(info["puffin_path"]),
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": int(info["cardinality"]),
            "file_size_in_bytes": int(info["puffin_size"]),
            "referenced_data_file": norm_path(info["referenced_file"]),
            "content_offset": int(info["offset"]),
            "content_size_in_bytes": int(info["length"]),
        },
    }


def _delete_entry(info: dict, snapshot_id: int, seq: int) -> dict:
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 1,  # POSITION_DELETES
            "file_path": norm_path(info["file_path"]),
            "file_format": "PARQUET",
            "partition": {},
            "record_count": int(info["record_count"]),
            "file_size_in_bytes": int(info["file_size_bytes"]),
            # bounds on the file_path column let readers prune which delete
            # files can apply to a given data file
            "lower_bounds": [
                {"key": POS_DELETE_FILE_PATH_ID, "value": info["min_path"].encode()}
            ],
            "upper_bounds": [
                {"key": POS_DELETE_FILE_PATH_ID, "value": info["max_path"].encode()}
            ],
        },
    }


def _write_manifests(
    metadata_dir: str,
    entries: list[dict],
    content: str,
    schema_json: str,
    tag: str,
    seq: int,
    schema_id: int = 0,
    format_version: int = 2,
    partition_fields: list[dict] | None = None,
    spec_json: str = "[]",
) -> list[dict]:
    """Write Avro manifests chunked at 25k entries; returns manifest-file
    descriptors for the manifest list."""
    out = []
    schema = manifest_entry_schema(partition_fields)
    for ci in range(0, max(len(entries), 1), _MANIFEST_MAX_ENTRIES):
        chunk = entries[ci : ci + _MANIFEST_MAX_ENTRIES]
        if not chunk and ci > 0:
            break
        path = os.path.join(metadata_dir, f"manifest-{tag}-{ci // _MANIFEST_MAX_ENTRIES:05d}.avro")
        size = write_avro_file(
            path,
            schema,
            chunk,
            metadata={
                "schema": schema_json.encode(),
                "schema-id": str(schema_id).encode(),
                "partition-spec": spec_json.encode(),
                "partition-spec-id": b"0",
                "format-version": str(format_version).encode(),
                "content": content.encode(),
            },
        )
        out.append(
            {
                "manifest_path": path,
                "manifest_length": size,
                "partition_spec_id": 0,
                "content": 0 if content == "data" else 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": None,  # filled by caller
                "added_data_files_count": len(chunk),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(e["data_file"]["record_count"] for e in chunk),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                # field_summary per spec field (null-free chunks carry
                # Appendix-D bounds): lets readers skip this manifest FILE
                # from the manifest list alone — at 10^6 files that is most
                # of the metadata I/O for a selective partition_filter
                "partitions": (
                    field_summaries(chunk, partition_fields)
                    if content == "data"
                    else None
                ),
            }
        )
    return out


def export_iceberg(
    table,
    dest_root: str,
    snapshot_id: int | None = None,
    pin_source: bool = True,
    format_version: int = 2,
    partition_by: list[str] | None = None,
) -> str:
    """Translate a snapshot into genuine Iceberg metadata under
    *dest_root*; returns the metadata.json path. See module docstring for
    the layout.

    VERSIONED: re-exporting a later snapshot to the same dest appends a new
    Iceberg snapshot, bumps the sequence numbers, writes
    v{N+1}.metadata.json, records the prior metadata file in metadata-log,
    and flips version-hint.text — the ongoing-sync shape of the reference
    (iceberg_table_syncer.rs commits each mooncake snapshot as a new
    fast-append; file_catalog.rs:606-624 accumulates metadata versions).
    Re-exporting the SAME snapshot is a no-op returning the current path.
    Time travel across exports works through any Iceberg reader
    (read_iceberg_scan(snapshot_id=...)).

    The deletes are converted on the driver, with no Spark job: it holds
    every bitmap row of the snapshot, DV rows × (words × 8 + path bytes),
    plus one target's positions at a time for v2 (≤ record_count × 8
    bytes) or the serialized blobs for v3.

    The export references the source table's data files IN PLACE, so with
    *pin_source* (default) the exported snapshot is TAGGED on the source
    table (`iceberg-export-<sid>`): expiry retains it and the orphan sweep
    can never reclaim files the external mirror still references. Drop the
    tag when the exported version is no longer needed.

    *format_version*: 2 (default) writes position deletes as spec-schema
    parquet; 3 writes them as Puffin deletion-vector-v1 blobs (roaring
    bitmaps, one blob per referenced data file — the reference's native DV
    form, deletion_vector.rs:15-21) with v3 row-lineage metadata. A dest
    already exported at one version cannot be re-exported at the other.

    *partition_by*: export with a partition spec on these entries — bare
    column names (identity) or monotonic transform expressions
    ("day(ts)", "year(ts)", "truncate[4](name)", ...) — STATS-DRIVEN and
    zero-rewrite: every data file must already map to exactly one
    partition value (transform(min) == transform(max) in the catalog's
    per-file stats — what align clustering by the same expressions
    produces), and that value is recorded as the file's manifest partition
    tuple, so external readers get metadata-level partition pruning over
    the same in-place files. A file spanning values is a clear error
    (cluster first), not a silent unpartitioned export; bucket[N] is
    rejected (min==max cannot witness bucket alignment); re-exports must
    pass the same partition_by."""
    if format_version not in (2, 3):
        raise ValueError(f"unsupported format_version {format_version}")
    meta = table.meta
    sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
    snap = meta.snapshot_by_id(sid)
    from moonlink_spark.catalog.manifests import (
        read_data_manifests,
        read_delete_manifests,
    )

    data_files = read_data_manifests(table.catalog.metadata_dir, snap.manifests)
    delete_files = read_delete_manifests(
        table.catalog.metadata_dir, snap.delete_manifests
    )

    metadata_dir = os.path.join(dest_root, "metadata")
    data_dir = os.path.join(dest_root, "data")
    os.makedirs(metadata_dir, exist_ok=True)
    os.makedirs(data_dir, exist_ok=True)

    # ---- prior export state (versioned evolution) ------------------------
    exported_sid = int(sid)
    hint_path = os.path.join(metadata_dir, "version-hint.text")
    prior = None
    prior_version = 0
    if os.path.exists(hint_path):
        with open(hint_path) as f:
            prior_version = int(f.read().strip())
        with open(os.path.join(metadata_dir, f"v{prior_version}.metadata.json")) as f:
            prior = json.load(f)
        if prior["format-version"] != format_version:
            raise ValueError(
                f"dest was exported at format-version "
                f"{prior['format-version']}; cannot re-export at "
                f"{format_version}"
            )
        if prior["current-snapshot-id"] == exported_sid:
            return os.path.join(metadata_dir, f"v{prior_version}.metadata.json")
        if any(s["snapshot-id"] == exported_sid for s in prior["snapshots"]):
            raise ValueError(
                f"snapshot {exported_sid} was already exported (only forward "
                f"exports supported; use read_iceberg_scan(snapshot_id=...) "
                f"for time travel)"
            )
    base_seq = prior["last-sequence-number"] if prior else 0
    data_seq, delete_seq = base_seq + 1, base_seq + 2

    # ---- field ids + schema JSON -----------------------------------------
    # SCHEMA HISTORY: Iceberg keeps one schema entry per schema-id and each
    # snapshot records the id it was written under, so external time travel
    # reads old snapshots with their write-time schema. If the table evolved
    # since the prior export, append a NEW schema-id; if the current schema
    # matches a previously-exported one (e.g. drop + re-add round-trip), the
    # matching id is reused.
    from moonlink_spark.catalog.metadata import assign_field_ids

    field_ids = dict(meta.field_ids or {})
    if not field_ids:
        field_ids, _ = assign_field_ids(table.schema)
    ice_fields = iceberg_schema_fields(table.schema, field_ids, table.key_columns)
    prior_schemas = list(prior["schemas"]) if prior else []
    schema_id = None
    for s in prior_schemas:
        if s["fields"] == ice_fields:
            schema_id = s["schema-id"]
            break
    if schema_id is None:
        schema_id = max((s["schema-id"] for s in prior_schemas), default=-1) + 1
        ice_schema = {"type": "struct", "schema-id": schema_id, "fields": ice_fields}
        all_schemas = prior_schemas + [ice_schema]
    else:
        ice_schema = next(s for s in prior_schemas if s["schema-id"] == schema_id)
        all_schemas = prior_schemas
    schema_json = json.dumps(ice_schema, separators=(",", ":"))
    schema_by_name = {f.name: f for f in table.schema.fields}
    last_column_id = max(
        [max(field_ids.values())]
        + ([prior["last-column-id"]] if prior else [])
    )

    # ---- partition spec (optional, stats-driven, zero-rewrite) -----------
    # entries are column names (identity) or transform expressions like
    # "day(ts)" / "truncate[4](caption)". A file is exportable under a
    # field iff transform(min) == transform(max) in the catalog's per-file
    # stats — exact for identity and for the MONOTONIC transforms
    # (temporal, truncate). bucket[N] is rejected up front: min==max can't
    # witness bucket alignment (a bucket spans the key range), so a
    # stats-driven bucket export would be silently wrong.
    spec_fields: list[dict] = []
    part_avro_fields: list[dict] = []
    part_values: dict[str, dict] = {}
    if partition_by:
        from moonlink_spark.iceberg.transforms import (
            apply_transform,
            parse_partition_expr,
            partition_field_name,
        )

        _IDENTITY_OK = {"string", "long", "int", "double", "float", "boolean"}
        _PTYPE = {"date": "int", "timestamp": "long", "timestamptz": "long"}
        parsed: list[tuple[str, str, str, str]] = []  # (field, transform, src, itype)
        for i, expr in enumerate(partition_by):
            tr, src = parse_partition_expr(expr)
            sf = schema_by_name.get(src)
            if sf is None:
                raise ValueError(f"partition_by column {src!r} not in schema")
            if tr.startswith("bucket["):
                raise ValueError(
                    f"partition_by {expr!r}: bucket export is not "
                    f"stats-derivable (per-file min==max cannot witness "
                    f"bucket alignment); use a temporal/truncate/identity "
                    f"transform, or write bucket layouts with an external "
                    f"engine and read them via read_iceberg_scan"
                )
            itype = iceberg_type(sf.dataType)
            fname = partition_field_name(tr, src)
            if tr == "identity":
                ptype = _PTYPE.get(itype, itype)
                if ptype not in _IDENTITY_OK and itype not in _PTYPE:
                    raise ValueError(
                        f"unsupported identity-partition type {itype!r} for "
                        f"column {src!r}"
                    )
            elif tr in ("year", "month", "day", "hour"):
                if itype != "date" and not itype.startswith("timestamp"):
                    raise ValueError(
                        f"partition_by {expr!r}: {tr} needs a date/timestamp "
                        f"source, got {itype!r}"
                    )
                ptype = "int"
            else:  # truncate[W]
                if itype not in ("int", "long", "string"):
                    raise ValueError(
                        f"partition_by {expr!r}: truncate needs int/long/"
                        f"string source, got {itype!r}"
                    )
                ptype = itype
            spec_fields.append(
                {"name": fname, "transform": tr,
                 "source-id": int(field_ids[src]), "field-id": 1000 + i}
            )
            part_avro_fields.append(
                {"name": fname, "field-id": 1000 + i, "type": ptype}
            )
            parsed.append((fname, tr, src, itype))
        # alignment gate: per-file column stats already live in the catalog
        # (in-pass Arrow stats), so this is metadata-only — no data read
        for f in data_files:
            st = f.stats or {}
            vals = {}
            for fname, tr, src, itype in parsed:
                s = st.get(src) or {}
                if s.get("min") is None or s.get("max") is None:
                    raise ValueError(
                        f"cannot export partitioned on {src!r}: data file "
                        f"{f.file_path} has no column stats for it"
                    )
                vmin = apply_transform(tr, s["min"], itype)
                vmax = apply_transform(tr, s["max"], itype)
                if vmin != vmax:
                    raise ValueError(
                        f"cannot export partitioned on {fname!r}: data "
                        f"file {f.file_path} spans "
                        f"[{s.get('min')!r}, {s.get('max')!r}] → partition "
                        f"values [{vmin!r}, {vmax!r}] — cluster the table "
                        f"first so every file holds one partition value "
                        f"(optimize(table, mode='full', "
                        f"cluster_by={list(partition_by)}, curve='align'))"
                    )
                vals[fname] = vmin
            part_values[norm_path(f.file_path)] = vals
    if prior is not None:
        prior_spec = prior["partition-specs"][0].get("fields", [])
        if prior_spec != spec_fields:
            raise ValueError(
                f"re-export partition spec mismatch: dest was exported with "
                f"{[pf['name'] for pf in prior_spec]}, this call asks for "
                f"{list(partition_by or [])} — a mirror's spec cannot change "
                f"between exports"
            )
    spec_json = json.dumps(spec_fields, separators=(",", ":"))

    # ---- position deletes: bitmap DVs -> spec parquet (v2) / puffin (v3) -
    # v3 allows one DV per data file, so each target's rows in several DV
    # files are OR'd first; v2 takes the same one-row-per-target form
    delete_infos: list[dict] = []
    merged = _or_bitmap_rows(table.read_bitmap_rows(delete_files)) if delete_files else {}
    if merged and format_version >= 3:
        delete_infos = _write_icedv(
            merged, os.path.join(data_dir, f"icedv-{exported_sid}-00000.puffin"),
            exported_sid, delete_seq,
        )
    elif merged:
        delete_infos = _write_icedel(
            merged, os.path.join(data_dir, f"icedel-{exported_sid}-00000.parquet")
        )

    # ---- v3 row lineage: stable per-file first_row_id --------------------
    # Iceberg v3 requires assigned row ids to be IMMUTABLE: a file already
    # present in the prior export keeps its exact first_row_id (recovered
    # from the prior snapshot's data manifests); only files NEW to this
    # export draw fresh ids, and next-row-id advances by their records
    # alone. A maintenance rewrite produces new file paths, which correctly
    # re-assign (the rows were physically rewritten).
    row_id_of: dict[str, int] = {}
    next_row_id = int(prior.get("next-row-id", 0)) if prior else 0
    snapshot_first_row_id = next_row_id
    if format_version >= 3:
        prior_assign: dict[str, int] = {}
        if prior:
            from moonlink_spark.iceberg.reader import (
                _manifest_entries,
                _manifest_list_entries,
            )

            cur = next(
                s for s in prior["snapshots"]
                if s["snapshot-id"] == prior["current-snapshot-id"]
            )
            for m in _manifest_list_entries(table.spark, cur["manifest-list"]):
                if m["content"] != 0:
                    continue
                for e in _manifest_entries(table.spark, m["manifest_path"]):
                    if e.get("first_row_id") is not None:
                        prior_assign[e["file_path"]] = int(e["first_row_id"])
        for f in sorted(data_files, key=lambda f: norm_path(f.file_path)):
            p = norm_path(f.file_path)
            if p in prior_assign:
                row_id_of[p] = prior_assign[p]
            else:
                row_id_of[p] = next_row_id
                next_row_id += int(f.record_count)

    # ---- manifests + manifest list ---------------------------------------
    data_entries = [
        _data_entry(
            f, schema_by_name, field_ids, exported_sid, data_seq,
            first_row_id=row_id_of.get(norm_path(f.file_path)),
            partition=part_values.get(norm_path(f.file_path)),
        )
        for f in data_files
    ]
    if format_version >= 3:
        del_entries = [_dv_entry(i, exported_sid, delete_seq) for i in delete_infos]
    else:
        del_entries = [_delete_entry(i, exported_sid, delete_seq) for i in delete_infos]
    manifests = _write_manifests(
        metadata_dir, data_entries, "data", schema_json,
        f"{exported_sid}-data", data_seq, schema_id, format_version,
        partition_fields=part_avro_fields or None, spec_json=spec_json,
    )
    if del_entries:
        # delete entries carry an empty partition tuple (every r102 field is
        # a nullable union), valid under the same spec-id
        manifests += _write_manifests(
            metadata_dir, del_entries, "deletes", schema_json,
            f"{exported_sid}-del", delete_seq, schema_id, format_version,
            partition_fields=part_avro_fields or None, spec_json=spec_json,
        )
    for m in manifests:
        m["added_snapshot_id"] = exported_sid
    list_path = os.path.join(
        metadata_dir, f"snap-{exported_sid}-1-{uuid.uuid4().hex}.avro"
    )
    write_avro_file(
        list_path,
        MANIFEST_FILE_SCHEMA,
        manifests,
        metadata={
            "format-version": str(format_version).encode(),
            "snapshot-id": str(exported_sid).encode(),
            "sequence-number": str(delete_seq).encode(),
        },
    )

    # ---- table metadata + version hint -----------------------------------
    now_ms = int(time.time() * 1000)
    total_records = sum(int(f.record_count) for f in data_files)
    total_deletes = sum(
        int(i.get("record_count", i.get("cardinality", 0))) for i in delete_infos
    )
    new_snapshot = {
        "snapshot-id": exported_sid,
        "parent-snapshot-id": prior["current-snapshot-id"] if prior else None,
        "sequence-number": delete_seq,
        "timestamp-ms": now_ms,
        "manifest-list": list_path,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(data_files)),
            "added-records": str(total_records),
            "added-position-delete-files": str(len(delete_infos)),
            "added-position-deletes": str(total_deletes),
            # the reference stamps each synced Iceberg snapshot with the
            # CDC flush LSN it is visible at (iceberg_table_syncer.rs sets
            # snapshot props; mooncake_table.rs:432-445 keeps it
            # monotonic), so external readers can map a mirror version
            # back to a replication position
            "flush-lsn": str(_flush_lsn_at(meta, exported_sid)),
            "source-snapshot-id": str(exported_sid),
        },
        "schema-id": schema_id,
    }
    if format_version >= 3:
        # v3 row lineage: the snapshot records the first row-id it may
        # assign (ids below it belong to files carried forward unchanged)
        new_snapshot["first-row-id"] = snapshot_first_row_id
    if new_snapshot["parent-snapshot-id"] is None:
        new_snapshot.pop("parent-snapshot-id")
    tmeta = {
        "format-version": format_version,
        "table-uuid": (
            prior["table-uuid"]
            if prior
            else str(uuid.uuid5(uuid.NAMESPACE_URL, table.root))
        ),
        "location": os.path.abspath(dest_root),
        "last-sequence-number": delete_seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_column_id,
        "current-schema-id": schema_id,
        "schemas": all_schemas,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": max(
            [999] + [pf["field-id"] for pf in spec_fields]
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": json.dumps(
                name_mapping(table.schema, field_ids), separators=(",", ":")
            ),
            "write.format.default": "parquet",
        },
        "current-snapshot-id": exported_sid,
        "snapshots": (prior["snapshots"] if prior else []) + [new_snapshot],
        "snapshot-log": (prior.get("snapshot-log", []) if prior else [])
        + [{"snapshot-id": exported_sid, "timestamp-ms": now_ms}],
        "metadata-log": (prior.get("metadata-log", []) if prior else [])
        + (
            [
                {
                    "metadata-file": os.path.join(
                        metadata_dir, f"v{prior_version}.metadata.json"
                    ),
                    "timestamp-ms": prior["last-updated-ms"],
                }
            ]
            if prior
            else []
        ),
    }
    if format_version >= 3:
        # advanced only by NEWLY-assigned records, not the whole table
        tmeta["next-row-id"] = next_row_id
    new_version = prior_version + 1
    meta_path = os.path.join(metadata_dir, f"v{new_version}.metadata.json")
    with open(meta_path + ".tmp", "w") as f:
        json.dump(tmeta, f, indent=1)
    os.rename(meta_path + ".tmp", meta_path)
    with open(hint_path + ".tmp", "w") as f:
        f.write(str(new_version))
    os.rename(hint_path + ".tmp", hint_path)
    if pin_source:
        # pin the source snapshot against expiry: the export references the
        # table's data files in place, so the orphan sweep must never
        # reclaim them while this exported version exists
        table.create_tag(f"iceberg-export-{exported_sid}", snapshot_id=exported_sid)
    return meta_path
