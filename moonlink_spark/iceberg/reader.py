"""Independent Iceberg v2 spec reader: consumes ONLY the exported files.

This module never touches the MoonTable catalog — it walks the Iceberg
protocol exactly as an external engine would (version-hint.text →
vN.metadata.json → manifest-list Avro → manifest Avro → parquet scan with
position AND equality deletes anti-joined, identity partition values
pruned/filled from manifest metadata), so a scan through it hash-matching
the native `t.scan()` proves the exported metadata is genuinely
self-describing — and external tables our engine never wrote (partitioned,
Flink-style equality deletes) read correctly through the same path.

The Avro manifests are decoded by the REFERENCE Java Avro implementation
(avro-1.12.1.jar on Spark's JVM classpath, via the py4j gateway) — an
independent decoder validating our handwritten container bytes — with the
pure-Python decoder as a fallback when no JVM is available.

Scale: the manifest walk is O(files/25k) driver-side metadata (same as any
Iceberg planner); the data scan and the delete anti-join are fully
distributed, with the delete side broadcast only below a positions gate.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from moonlink_spark.catalog.metadata import file_path_col, norm_path

# broadcast the position-delete relation below this many rows; Iceberg
# position deletes are (file_path, pos) rows, so the count is their size
# (the native scan gates its bitmap rows instead, table.py join_deletes)
_BROADCAST_DELETE_ROWS = 2_000_000


def _canon_partition(spec_id: int, fields: list[dict], part: dict) -> str | None:
    """Key scoping equality deletes to their (spec, partition tuple), over
    the spec's non-void *fields* (partition_pruner_fields), each value in
    the spec's storage form (a date as days), so decoders that give one
    value as an int or as a date agree. None for an unpartitioned spec,
    whose deletes apply globally; a missing value is NULL, not global."""
    from moonlink_spark.iceberg.transforms import apply_transform

    if not fields:
        return None
    vals = []
    for pf in fields:
        v = part.get(pf["name"])
        if pf["transform"] == "identity":
            v = apply_transform("identity", v, pf["type"])
        elif pf["transform"] == "day" and v is not None and not isinstance(v, int):
            v = apply_transform("identity", v, "date")  # day's result type is date
        vals.append(v.hex() if isinstance(v, (bytes, bytearray)) else v)
    return json.dumps([spec_id, vals], default=str)


def equality_delete_join(
    spark: SparkSession, rows: DataFrame, entries: list[dict], key_cols, how: str
) -> DataFrame:
    """Join *rows* (carrying the equality columns *key_cols*, their file's
    data sequence _dseq and partition key _pkey) with the equality-delete
    files *entries* (each with its _seq and _pkey) under the spec's rule:
    equal key columns with NULL == NULL, the delete's sequence number
    strictly greater, and the delete's partition key NULL (an unpartitioned
    spec: global) or equal to the row's. left_anti keeps the surviving rows,
    left_semi the deleted ones. The delete side broadcasts below
    _BROADCAST_DELETE_ROWS."""
    del_seq_df = spark.createDataFrame(
        [(norm_path(e["file_path"]), int(e["_seq"]), e["_pkey"]) for e in entries],
        "_delfp string, _xseq long, _delpkey string",
    )
    del_paths = [e["file_path"] for e in entries]
    dels = (
        spark.read.parquet(*del_paths)
        .select(
            *[F.col(c).alias(f"_k_{c}") for c in key_cols],
            file_path_col(del_paths).alias("_delfp"),
        )
        .join(F.broadcast(del_seq_df), "_delfp")
        .select(*[f"_k_{c}" for c in key_cols], "_xseq", "_delpkey")
        .distinct()
    )
    if sum(e["record_count"] for e in entries) <= _BROADCAST_DELETE_ROWS:
        dels = F.broadcast(dels)
    pred = (dels["_xseq"] > rows["_dseq"]) & (
        dels["_delpkey"].isNull() | (dels["_delpkey"] == rows["_pkey"])
    )
    for c in key_cols:
        pred = pred & rows[c].eqNullSafe(dels[f"_k_{c}"])
    return rows.join(dels, pred, how)


def read_avro_via_jvm(spark: SparkSession, path: str) -> list:
    """Decode an Avro container file with the Java reference implementation
    (org.apache.avro on Spark's classpath); returns GenericRecord handles."""
    jvm = spark.sparkContext._jvm
    jfile = jvm.java.io.File(path)
    datum = jvm.org.apache.avro.generic.GenericDatumReader()
    reader = jvm.org.apache.avro.file.DataFileReader(jfile, datum)
    out = []
    while reader.hasNext():
        out.append(reader.next())
    reader.close()
    return out


def _jvm_bytes(v) -> bytes | None:
    """Avro bytes value off a JVM GenericRecord (array-backed ByteBuffer
    or already-converted bytes) → Python bytes."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    backing = bytes(v.array())
    off = v.arrayOffset() + v.position()
    return backing[off : off + v.remaining()]


def _jvm_summaries(rec) -> list[dict] | None:
    arr = rec.get("partitions")
    if arr is None:
        return None
    return [
        {
            "contains_null": bool(s.get("contains_null")),
            "lower_bound": _jvm_bytes(s.get("lower_bound")),
            "upper_bound": _jvm_bytes(s.get("upper_bound")),
        }
        for s in arr
    ]


def _manifest_list_entries(spark: SparkSession, path: str) -> list[dict]:
    try:
        return [
            {
                "manifest_path": str(r.get("manifest_path")),
                "content": int(r.get("content")),
                "sequence_number": int(r.get("sequence_number")),
                "partition_spec_id": int(r.get("partition_spec_id")),
                "partitions": _jvm_summaries(r),
            }
            for r in read_avro_via_jvm(spark, path)
        ]
    except Exception:
        from moonlink_spark.iceberg.avro_io import read_avro_file

        _, _, recs = read_avro_file(path)
        return [
            {
                "manifest_path": r["manifest_path"],
                "content": r["content"],
                "sequence_number": r.get("sequence_number", 0),
                "partition_spec_id": r.get("partition_spec_id", 0),
                "partitions": [
                    {
                        "contains_null": bool(s.get("contains_null")),
                        "lower_bound": None
                        if s.get("lower_bound") is None
                        else bytes(s["lower_bound"]),
                        "upper_bound": None
                        if s.get("upper_bound") is None
                        else bytes(s["upper_bound"]),
                    }
                    for s in r["partitions"]
                ]
                if r.get("partitions") is not None
                else None,
            }
            for r in recs
        ]


def _jvm_partition_values(data_file) -> dict:
    """Generic decode of the r102 partition struct off a JVM GenericRecord:
    field names come from the record's own schema, Avro Utf8 strings are
    normalized to str, numerics/booleans pass through py4j natively."""
    part = data_file.get("partition")
    out: dict = {}
    if part is None:
        return out
    for fld in part.getSchema().getFields():
        name = str(fld.name())
        v = part.get(name)
        if v is not None and not isinstance(v, (bool, int, float, bytes, str)):
            v = str(v)
        out[name] = v
    return out


def _jvm_bound_map(data_file, name: str) -> dict[int, bytes] | None:
    """Decode a lower_bounds/upper_bounds k/v array off a JVM GenericRecord
    into {field-id: raw bound bytes} (Avro bytes values arrive as
    array-backed ByteBuffers; slice by position/remaining)."""
    arr = data_file.get(name)
    if arr is None:
        return None
    out: dict[int, bytes] = {}
    for e in arr:
        v = e.get("value")
        if v is None:
            continue
        if isinstance(v, (bytes, bytearray)):
            raw = bytes(v)
        else:
            backing = bytes(v.array())
            off = v.arrayOffset() + v.position()
            raw = backing[off : off + v.remaining()]
        out[int(e.get("key"))] = raw
    return out


def _py_bound_map(vals) -> dict[int, bytes] | None:
    if vals is None:
        return None
    return {
        int(e["key"]): bytes(e["value"])
        for e in vals
        if e.get("value") is not None
    }


def _manifest_entries(spark: SparkSession, path: str) -> list[dict]:
    def _opt(v, conv):
        return None if v is None else conv(v)

    def _ids(v):
        return None if v is None else [int(x) for x in v]

    try:
        out = []
        for r in read_avro_via_jvm(spark, path):
            df = r.get("data_file")
            out.append(
                {
                    "status": int(r.get("status")),
                    "sequence_number": _opt(r.get("sequence_number"), int),
                    "content": int(df.get("content")),
                    "partition": _jvm_partition_values(df),
                    "file_path": str(df.get("file_path")),
                    "file_format": str(df.get("file_format")),
                    "record_count": int(df.get("record_count")),
                    "equality_ids": _ids(df.get("equality_ids")),
                    "first_row_id": _opt(df.get("first_row_id"), int),
                    "referenced_data_file": _opt(df.get("referenced_data_file"), str),
                    "content_offset": _opt(df.get("content_offset"), int),
                    "content_size_in_bytes": _opt(
                        df.get("content_size_in_bytes"), int
                    ),
                    "lower_bounds": _jvm_bound_map(df, "lower_bounds"),
                    "upper_bounds": _jvm_bound_map(df, "upper_bounds"),
                }
            )
        return out
    except Exception:
        from moonlink_spark.iceberg.avro_io import read_avro_file

        _, _, recs = read_avro_file(path)
        return [
            {
                "status": r["status"],
                "sequence_number": r.get("sequence_number"),
                "content": r["data_file"]["content"],
                "partition": r["data_file"].get("partition") or {},
                "file_path": r["data_file"]["file_path"],
                "file_format": r["data_file"].get("file_format", "PARQUET"),
                "record_count": r["data_file"]["record_count"],
                "equality_ids": r["data_file"].get("equality_ids"),
                "first_row_id": r["data_file"].get("first_row_id"),
                "referenced_data_file": r["data_file"].get("referenced_data_file"),
                "content_offset": r["data_file"].get("content_offset"),
                "content_size_in_bytes": r["data_file"].get("content_size_in_bytes"),
                "lower_bounds": _py_bound_map(r["data_file"].get("lower_bounds")),
                "upper_bounds": _py_bound_map(r["data_file"].get("upper_bounds")),
            }
            for r in recs
        ]


def load_iceberg_metadata(table_root: str) -> dict:
    """version-hint.text → vN.metadata.json (the file-catalog protocol)."""
    mdir = os.path.join(table_root, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as f:
        return json.load(f)


def resolve_schema(meta: dict, snap: dict | None = None) -> dict:
    """The schema a snapshot was written under: its schema-id entry in the
    metadata's schemas list (falling back to current-schema-id). This is
    what makes external time travel read OLD snapshots with their OLD
    column set after schema evolution."""
    sid = (snap or {}).get("schema-id", meta.get("current-schema-id", 0))
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return s
    return meta["schemas"][0]


def check_supported(meta: dict, table_root: str) -> None:
    """Up-front validation of the Iceberg feature surface this engine
    consumes — a clear error beats a confusing AnalysisException deep in
    the delete-file read. Supported partition transforms: identity/void
    (values prune AND constant-fill absent source columns) plus the spec's
    derived transforms — bucket[N], truncate[W], year/month/day/hour —
    whose values prune only (their sources are always materialized in data
    files, so nothing needs filling). Unknown/future transforms are
    rejected: silently scanning without their pruning semantics would mask
    O(table) reads behind a partition filter."""
    from moonlink_spark.iceberg.transforms import is_supported_transform

    if meta.get("format-version") not in (2, 3):
        raise ValueError(
            f"unsupported Iceberg format-version "
            f"{meta.get('format-version')} at {table_root}"
        )
    for spec in meta.get("partition-specs", []):
        bad = [
            f"{f.get('name')}:{f.get('transform')}"
            for f in spec.get("fields", [])
            if not is_supported_transform(f.get("transform", ""))
        ]
        if bad:
            raise ValueError(
                f"unsupported partition transform(s) on fields {bad} "
                f"(spec-id {spec.get('spec-id')}) at {table_root}; supported "
                f"transforms: identity/void/year/month/day/hour/bucket[N]/"
                f"truncate[W]"
            )


def identity_partition_sources(meta: dict) -> dict[int, dict[str, str]]:
    """Per spec-id: partition-field name → SOURCE column name (resolved by
    source-id across every schema in the metadata's history, so a spec
    written under an older schema still resolves). Only identity fields
    appear (void fields carry no value and prune nothing)."""
    id_to_name: dict[int, str] = {}
    for s in meta.get("schemas", []):
        for f in s.get("fields", []):
            id_to_name.setdefault(int(f["id"]), f["name"])
    out: dict[int, dict[str, str]] = {}
    for spec in meta.get("partition-specs", []):
        m: dict[str, str] = {}
        for f in spec.get("fields", []):
            if f.get("transform") == "identity":
                src = id_to_name.get(int(f["source-id"]))
                if src is None:
                    raise ValueError(
                        f"partition field {f.get('name')} references "
                        f"unknown source-id {f.get('source-id')}"
                    )
                m[f["name"]] = src
        out[int(spec["spec-id"])] = m
    return out


def partition_pruner_fields(meta: dict) -> dict[int, list[dict]]:
    """Per spec-id: the fields usable for metadata pruning — every
    supported non-void transform, each as ``{"name", "transform",
    "source", "type"}`` (source column name + its Iceberg type, resolved
    by source-id across the schema history). Identity fields appear here
    too: identity pruning is just apply_transform("identity", ...)."""
    id_to_name: dict[int, str] = {}
    id_to_type: dict[int, object] = {}
    for s in meta.get("schemas", []):
        for f in s.get("fields", []):
            id_to_name.setdefault(int(f["id"]), f["name"])
            id_to_type.setdefault(int(f["id"]), f["type"])
    out: dict[int, list[dict]] = {}
    for spec in meta.get("partition-specs", []):
        fields = []
        for pos, f in enumerate(spec.get("fields", [])):
            tr = f.get("transform", "")
            if tr == "void":
                continue
            src_id = int(f["source-id"])
            if src_id not in id_to_name:
                raise ValueError(
                    f"partition field {f.get('name')} references unknown "
                    f"source-id {src_id}"
                )
            ty = id_to_type[src_id]
            fields.append(
                {
                    "name": f["name"],
                    "transform": tr,
                    "source": id_to_name[src_id],
                    "type": ty if isinstance(ty, str) else "struct",
                    # position within the spec's full fields list — the
                    # index of this field's manifest-list field_summary
                    "pos": pos,
                }
            )
        out[int(spec["spec-id"])] = fields
    return out


def puffin_delete_rows(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Decode v3 Puffin deletion-vector blobs into (_fp, _pos) rows —
    DISTRIBUTED: each executor task reads and CRC-checks only its blobs
    (a 100 TB table's DV set never funnels through the driver)."""
    rows = [
        (
            e["file_path"],
            int(e["content_offset"]),
            int(e["content_size_in_bytes"]),
            e["referenced_data_file"],
        )
        for e in entries
    ]

    def _decode(batches):
        import pyarrow as pa

        from moonlink_spark.iceberg.puffin import dv_blob_positions, read_puffin_blob

        for batch in batches:
            for pp, off, ln, ref in zip(
                batch.column("puffin_path").to_pylist(),
                batch.column("offset").to_pylist(),
                batch.column("length").to_pylist(),
                batch.column("referenced").to_pylist(),
            ):
                pos = dv_blob_positions(read_puffin_blob(pp, off, ln))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([ref] * len(pos)),
                        pa.array(pos.astype("int64")),
                    ],
                    names=["_fp", "_pos"],
                )

    df = spark.createDataFrame(
        rows, "puffin_path string, offset long, length long, referenced string"
    )
    return df.repartition(min(max(len(rows), 1), 64)).mapInArrow(
        _decode, "_fp string, _pos long"
    )


def snapshot_as_of(meta: dict, as_of_ms: int) -> int:
    """Timestamp time travel (the spec's snapshot-log contract): the last
    snapshot whose log entry timestamp-ms ≤ *as_of_ms*."""
    best = None
    for e in meta.get("snapshot-log", []):
        if e["timestamp-ms"] <= as_of_ms:
            best = e["snapshot-id"]
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp-ms {as_of_ms} "
            f"(oldest log entry: {meta.get('snapshot-log') or 'none'})"
        )
    return best


def read_iceberg_scan(
    spark: SparkSession,
    table_root: str,
    columns: list[str] | None = None,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    with_row_ids: bool = False,
    partition_filter: dict | None = None,
    bounds_filter: dict | None = None,
) -> DataFrame:
    """Scan an Iceberg table directory through the spec protocol alone;
    returns the live rows (position AND equality deletes applied). Time
    travel by *snapshot_id* or by wall-clock *as_of_ms* (snapshot-log
    resolution).

    Partitioned tables are supported across the spec's transforms: each
    data file's partition values live in its manifest entry (metadata, not
    data), so *partition_filter* — ``{source_column: value}`` — prunes
    files DRIVER-SIDE before any parquet is opened (the scan never plans
    the pruned files). The filter value is pushed through every partition
    field's transform (identity, bucket[N], truncate[W], year/month/day/
    hour — Appendix-B Murmur3 for buckets) and compared to the stored
    value; note the filter PRUNES files, it does not filter rows — for
    non-identity transforms compose it with a row filter (e.g. bucket
    pruning keeps the whole matching bucket). A 2-tuple value is an
    inclusive (lo, hi) RANGE: order-preserving transforms prune files
    outside [transform(lo), transform(hi)] (a week over day partitions
    plans 7 days); bucket fields ignore range filters.

    *bounds_filter* — ``{column: value | (lo, hi)}`` — prunes on the
    manifest's per-file column bounds (Appendix-D lower/upper_bounds):
    a file survives only if its [min, max] interval intersects the
    filter. This is the spec's metadata-only range planning over
    CLUSTERED layouts (no partition spec needed); files lacking bounds
    for the column are kept. Like partition_filter it prunes files, not
    rows — compose a row filter on top for exact results. Identity partition columns
    physically absent from a data file are constant-filled from the
    manifest value via a broadcast file→value map (the spec's
    identity-partition read rule); temporal/datetime filter values may be
    ``datetime``/``date`` objects or raw epoch micros/days ints.

    Equality deletes (content=2, the Flink-CDC shape) are applied with the
    spec's sequence semantics — a delete at sequence S removes matching
    rows only from data files with sequence < S, NULL == NULL on the
    equality-id columns. At scale this is one hash join of the table
    keyed on the equality columns per distinct equality-id set, exactly
    the plan an engine-native apply runs.

    *with_row_ids* (v3 tables only) appends the spec's row-lineage column
    ``_row_id`` = the data file's immutable first_row_id + the row's
    position — derived exactly as a v3 reader must, so a row keeps its id
    across exports that carry its file forward. The per-file id map is
    manifest-cardinality metadata joined broadcast."""
    meta = load_iceberg_metadata(table_root)
    check_supported(meta, table_root)
    if snapshot_id is not None and as_of_ms is not None:
        raise ValueError("pass snapshot_id or as_of_ms, not both")
    if as_of_ms is not None:
        sid = snapshot_as_of(meta, as_of_ms)
    else:
        sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    spec_sources = identity_partition_sources(meta)
    spec_pruners = partition_pruner_fields(meta)
    if partition_filter:
        # validate filter keys BEFORE any manifest walk: a typo'd column
        # must raise even when summary-skipping or pruning would otherwise
        # return an empty result silently
        known = {f["source"] for fs in spec_pruners.values() for f in fs}
        unknown = sorted(set(partition_filter) - known)
        if unknown:
            raise ValueError(
                f"partition_filter references non-partition column(s) "
                f"{unknown}; partition source columns are {sorted(known)}"
            )

    data_paths: list[str] = []
    first_ids: dict[str, int | None] = {}
    file_parts: dict[str, dict] = {}  # path → {source_col: partition value}
    # path → [(source_col, transform, source_type, stored partition value)]
    file_prune: dict[str, list[tuple]] = {}
    # path → (lower_bounds, upper_bounds) as {field-id: Appendix-D bytes}
    file_bounds: dict[str, tuple] = {}
    file_seqs: dict[str, int] = {}  # path → data sequence number
    file_pkeys: dict[str, str | None] = {}  # path → canonical (spec, partition) key
    delete_paths: list[str] = []
    puffin_entries: list[dict] = []
    eq_entries: list[dict] = []
    n_delete_rows = 0
    def _summary_skippable(m: dict, fields: list[dict]) -> bool:
        """True when the manifest-list field_summary proves NO entry in
        this data manifest can match partition_filter — the manifest Avro
        is then never opened (O(manifests), not O(files), planning for
        selective filters). Conservative: null-containing summaries,
        missing bounds, bucket range filters, and malformed filter values
        (validated later) all keep the manifest."""
        from moonlink_spark.iceberg.spec import decode_bound
        from moonlink_spark.iceberg.transforms import (
            apply_transform,
            partition_value_avro_type,
        )

        sums = m.get("partitions")
        if not sums:
            return False
        for pf in fields:
            src = pf["source"]
            if src not in partition_filter or pf["pos"] >= len(sums):
                continue
            s = sums[pf["pos"]]
            if s.get("contains_null"):
                continue
            try:
                ptype = partition_value_avro_type(pf["transform"], pf["type"])
            except ValueError:
                continue
            lob = decode_bound(ptype, s.get("lower_bound"))
            upb = decode_bound(ptype, s.get("upper_bound"))
            if lob is None and upb is None:
                continue
            v = partition_filter[src]
            if isinstance(v, (tuple, list)):
                if pf["transform"].startswith("bucket[") or len(v) != 2:
                    continue
                lo = apply_transform(pf["transform"], v[0], pf["type"])
                hi = apply_transform(pf["transform"], v[1], pf["type"])
                if (upb is not None and lo is not None and upb < lo) or (
                    lob is not None and hi is not None and lob > hi
                ):
                    return True
            else:
                ev = apply_transform(pf["transform"], v, pf["type"])
                if ev is None:
                    continue
                if (lob is not None and ev < lob) or (
                    upb is not None and ev > upb
                ):
                    return True
        return False

    n_skipped_manifests = 0
    for m in _manifest_list_entries(spark, snap["manifest-list"]):
        src_by_pfield = spec_sources.get(m.get("partition_spec_id", 0), {})
        pruner_fields = spec_pruners.get(m.get("partition_spec_id", 0), [])
        if (
            partition_filter
            and m["content"] == 0
            and _summary_skippable(m, pruner_fields)
        ):
            n_skipped_manifests += 1
            continue
        for e in _manifest_entries(spark, m["manifest_path"]):
            if e["status"] == 2:  # DELETED entry: file no longer live
                continue
            # sequence-number inheritance: ADDED entries written with null
            # sequence inherit the manifest's (spec "Sequence Numbers")
            seq = (
                e["sequence_number"]
                if e.get("sequence_number") is not None
                else m["sequence_number"]
            )
            if e["content"] == 0:
                data_paths.append(e["file_path"])
                first_ids[e["file_path"]] = e.get("first_row_id")
                file_seqs[e["file_path"]] = seq
                file_bounds[e["file_path"]] = (
                    e.get("lower_bounds"),
                    e.get("upper_bounds"),
                )
                part = e.get("partition") or {}
                file_pkeys[e["file_path"]] = _canon_partition(
                    m.get("partition_spec_id", 0), pruner_fields, part
                )
                file_parts[e["file_path"]] = {
                    src_by_pfield[name]: v
                    for name, v in part.items()
                    if name in src_by_pfield
                }
                file_prune[e["file_path"]] = [
                    (pf["source"], pf["transform"], pf["type"], part.get(pf["name"]))
                    for pf in pruner_fields
                    if pf["name"] in part
                ]
            elif e["content"] == 2:
                eq_entries.append({**e, "_seq": seq, "_pkey": _canon_partition(
                    m.get("partition_spec_id", 0), pruner_fields, e.get("partition") or {}
                )})
                n_delete_rows += e["record_count"]
            elif e.get("file_format") == "PUFFIN":
                puffin_entries.append(e)
                n_delete_rows += e["record_count"]
            else:
                delete_paths.append(e["file_path"])
                n_delete_rows += e["record_count"]

    def _empty_result() -> DataFrame:
        # every file pruned: empty result with the snapshot-schema columns,
        # no scan at all
        import pyspark.sql.types as T

        from moonlink_spark.iceberg.spec import spark_type

        snap_schema0 = resolve_schema(meta, snap)
        empty = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        f["name"], spark_type(f["type"]), not f.get("required")
                    )
                    for f in snap_schema0["fields"]
                ]
            ),
        )
        empty = empty.select(
            *(columns or [f["name"] for f in snap_schema0["fields"]])
        )
        if with_row_ids:
            # the non-empty path appends _row_id after the column
            # projection; the empty path must match that shape
            empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
        return empty

    if not data_paths:
        if n_skipped_manifests:
            # every data manifest was summary-skipped: a valid empty scan
            return _empty_result()
        raise ValueError(f"no live data files in snapshot {sid} of {table_root}")

    if partition_filter:
        from moonlink_spark.iceberg.transforms import apply_transform

        # metadata-only pruning: a file is kept unless its manifest entry
        # carries a CONFLICTING value under some partition field on the
        # filtered source column — the filter value is run through the
        # field's transform (identity/bucket/truncate/temporal) and compared
        # to the stored partition value. A 2-tuple/list filter value means
        # an INCLUSIVE RANGE (lo, hi): order-preserving transforms
        # (identity/temporal/truncate) prune files whose stored value falls
        # outside [transform(lo), transform(hi)] — a week's scan over a
        # day-partitioned 100 TB table plans 7 partitions; bucket fields
        # can't range-prune (hashing destroys order) and keep the file.
        # Files from specs not partitioned on the column can't be pruned
        # and stay in the scan; transforms on the same source compose.
        expected_cache: dict[tuple, object] = {}

        def _expected(src: str, tr: str, ty: str):
            ck = (src, tr, ty)
            if ck not in expected_cache:
                v = partition_filter[src]
                if isinstance(v, (tuple, list)):
                    if len(v) != 2:
                        raise ValueError(
                            f"range partition_filter for {src!r} must be "
                            f"(lo, hi), got {v!r}"
                        )
                    expected_cache[ck] = (
                        apply_transform(tr, v[0], ty),
                        apply_transform(tr, v[1], ty),
                    )
                else:
                    expected_cache[ck] = apply_transform(tr, v, ty)
            return expected_cache[ck]

        def _conflicts(p: str) -> bool:
            for src, tr, ty, stored in file_prune.get(p, []):
                if stored is None or src not in partition_filter:
                    continue
                exp = _expected(src, tr, ty)
                if isinstance(exp, tuple):
                    if tr.startswith("bucket["):
                        continue  # hash transform: order not preserved
                    lo, hi = exp
                    if (lo is not None and stored < lo) or (
                        hi is not None and stored > hi
                    ):
                        return True
                elif exp != stored:
                    return True
            return False

        data_paths = [p for p in data_paths if not _conflicts(p)]
        if not data_paths:
            return _empty_result()

    if bounds_filter:
        # per-file column min/max pruning off the manifest's Appendix-D
        # lower/upper bounds — the spec's metadata-only range planning: a
        # range scan over a clustered 100 TB table plans only the files
        # whose bound interval intersects the filter. {col: value} is an
        # exact match, {col: (lo, hi)} an inclusive range; files without
        # bounds for the column are kept (no stats → no pruning).
        from moonlink_spark.iceberg.spec import decode_bound
        from moonlink_spark.iceberg.transforms import apply_transform

        snap_schema_b = resolve_schema(meta, snap)
        fid_by_name = {
            f["name"]: (int(f["id"]), f["type"])
            for f in snap_schema_b["fields"]
            if isinstance(f["type"], str)
        }
        unknown = sorted(set(bounds_filter) - set(fid_by_name))
        if unknown:
            raise ValueError(
                f"bounds_filter references unknown/non-primitive column(s) "
                f"{unknown}"
            )
        norm: dict[str, tuple] = {}
        for c, v in bounds_filter.items():
            fid, ty = fid_by_name[c]
            if isinstance(v, (tuple, list)):
                if len(v) != 2:
                    raise ValueError(
                        f"range bounds_filter for {c!r} must be (lo, hi), "
                        f"got {v!r}"
                    )
                lo, hi = v
            else:
                lo = hi = v
            # temporal filter values normalize to the spec's integer forms
            lo = apply_transform("identity", lo, ty)
            hi = apply_transform("identity", hi, ty)
            norm[c] = (fid, ty, lo, hi)

        def _bounds_conflict(p: str) -> bool:
            lbs, ubs = file_bounds.get(p, (None, None))
            for fid, ty, lo, hi in norm.values():
                f_lo = decode_bound(ty, lbs.get(fid)) if lbs else None
                f_hi = decode_bound(ty, ubs.get(fid)) if ubs else None
                if lo is not None and f_hi is not None and f_hi < lo:
                    return True
                if hi is not None and f_lo is not None and f_lo > hi:
                    return True
            return False

        data_paths = [p for p in data_paths if not _bounds_conflict(p)]
        if not data_paths:
            return _empty_result()

    snap_schema = resolve_schema(meta, snap)
    schema_fields = [f["name"] for f in snap_schema["fields"]]
    cols = columns or schema_fields

    # equality-delete key columns (by equality-ids → snapshot-schema names)
    # must be read even when projected out; dropped again before returning
    id_to_name = {f["id"]: f["name"] for f in snap_schema["fields"]}
    eq_groups: dict[tuple, list[dict]] = {}
    for e in eq_entries:
        if not e.get("equality_ids"):
            raise ValueError(
                f"equality-delete file {e['file_path']} has no equality_ids"
            )
        try:
            key = tuple(id_to_name[i] for i in sorted(e["equality_ids"]))
        except KeyError as exc:
            raise ValueError(
                f"equality-delete file {e['file_path']} references unknown "
                f"field id {exc}"
            ) from None
        eq_groups.setdefault(key, []).append(e)
    eq_key_cols = [c for g in eq_groups for c in g]
    read_cols = list(cols) + [c for c in dict.fromkeys(eq_key_cols) if c not in cols]
    # schema evolution is metadata-only: the snapshot's schema — not the
    # data files — defines the read columns. Reading with the snapshot's
    # schema as the EXPLICIT read schema makes parquet fill columns absent
    # from older files with NULL and ignore physically-present dropped
    # columns, exactly as a spec-compliant reader does (no mergeSchema
    # footer sweep needed).
    import pyspark.sql.types as T

    from moonlink_spark.iceberg.spec import spark_type

    read_schema = T.StructType(
        [
            T.StructField(f["name"], spark_type(f["type"]), not f.get("required"))
            for f in snap_schema["fields"]
        ]
    )
    if with_row_ids:
        missing = sorted(p for p in data_paths if first_ids[p] is None)
        if missing:
            raise ValueError(
                f"with_row_ids needs v3 row lineage: {len(missing)} data "
                f"file(s) in snapshot {sid} carry no first_row_id "
                f"(first: {missing[0]})"
            )

    df = spark.read.schema(read_schema).parquet(*data_paths)
    # identity partition columns may be physically ABSENT from data files:
    # the manifest value is the source of truth, filled in via a broadcast
    # file→value map (file-cardinality metadata) and coalesce — the file's
    # own value wins when materialized, per spec they must agree
    fill_cols = [
        c
        for c in read_cols
        if any(c in file_parts.get(p, {}) for p in data_paths)
    ]
    if (
        not delete_paths
        and not puffin_entries
        and not eq_groups
        and not with_row_ids
        and not fill_cols
    ):
        return df.select(*cols)

    with_pos = df.select(
        *read_cols,
        file_path_col(data_paths).alias("_fp"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    if fill_cols:
        type_by_name = {f.name: f.dataType for f in read_schema.fields}
        ice_type_by_name = {
            f["name"]: f["type"]
            for f in snap_schema["fields"]
            if isinstance(f["type"], str)
        }
        import pyspark.sql.types as T2

        def _part_py_value(c: str, v):
            # manifest partition values for temporal identity fields are
            # the spec's raw ints (days / micros since epoch) but the
            # Spark column type is DateType/TimestampType — convert, or
            # createDataFrame raises TypeError for any identity
            # date/timestamp-partitioned table
            if v is None or not isinstance(v, int):
                return v
            ty = ice_type_by_name.get(c, "")
            if ty == "date":
                from datetime import date, timedelta

                return date(1970, 1, 1) + timedelta(days=v)
            if ty.startswith("timestamp"):
                from datetime import datetime, timedelta

                return datetime(1970, 1, 1) + timedelta(microseconds=v)
            return v

        part_schema = T2.StructType(
            [T2.StructField("_fp", T2.StringType(), False)]
            + [
                T2.StructField(f"_part_{c}", type_by_name[c], True)
                for c in fill_cols
            ]
        )
        part_map = F.broadcast(
            spark.createDataFrame(
                [
                    tuple(
                        [p]
                        + [
                            _part_py_value(c, file_parts.get(p, {}).get(c))
                            for c in fill_cols
                        ]
                    )
                    for p in data_paths
                ],
                part_schema,
            )
        )
        with_pos = with_pos.join(part_map, "_fp").select(
            *[
                F.coalesce(F.col(c), F.col(f"_part_{c}")).alias(c)
                if c in fill_cols
                else F.col(c)
                for c in read_cols
            ],
            "_fp",
            "_pos",
        )
    if delete_paths or puffin_entries:
        del_parts = []
        if delete_paths:
            del_parts.append(
                spark.read.parquet(*delete_paths).select(
                    F.col("file_path").alias("_fp"), F.col("pos").alias("_pos")
                )
            )
        if puffin_entries:
            del_parts.append(puffin_delete_rows(spark, puffin_entries))
        dels = del_parts[0]
        for part in del_parts[1:]:
            dels = dels.unionByName(part)
        if n_delete_rows <= _BROADCAST_DELETE_ROWS:
            dels = F.broadcast(dels)
        else:
            # force a shuffled-hash anti-join above the gate: the at-rest
            # delete files are small, so Spark's size estimator would
            # otherwise broadcast a relation whose in-memory row count is
            # huge (same rationale as the native scan's bitmap gate)
            dels = dels.hint("shuffle_hash")
        with_pos = with_pos.join(dels, ["_fp", "_pos"], "left_anti")
    if eq_groups:
        # data sequence number + canonical partition key per file
        # (broadcast file-cardinality map); the spec's "delete applies to
        # strictly-older data files" rule, and its partition scoping:
        # equality deletes written under a partitioned spec apply only to
        # data files with the SAME partition tuple — global apply would
        # silently over-delete matching rows in other partitions whenever
        # the equality ids don't cover the partition source
        seq_map = F.broadcast(
            spark.createDataFrame(
                [(p, int(file_seqs[p]), file_pkeys.get(p)) for p in data_paths],
                "_fp string, _dseq long, _pkey string",
            )
        )
        with_pos = with_pos.join(seq_map, "_fp")
        for key_cols, entries in eq_groups.items():
            # one hash anti-join keyed on the equality columns per group —
            # the table shuffles once per distinct equality-id set, the
            # delete side broadcasts below the gate
            with_pos = equality_delete_join(spark, with_pos, entries, key_cols, "left_anti")
        with_pos = with_pos.drop("_dseq", "_pkey")
    if not with_row_ids:
        return with_pos.select(*cols)
    # file-cardinality metadata: broadcast the (file → first_row_id) map and
    # derive _row_id = first_row_id + position, the v3 inheritance rule
    # (spec: "Row Lineage" — files written without materialized ids inherit
    # from the manifest's first_row_id)
    id_map = F.broadcast(
        spark.createDataFrame(
            [(p, int(first_ids[p])) for p in data_paths],
            "_fp string, _first_row_id long",
        )
    )
    return with_pos.join(id_map, "_fp").select(
        *cols, (F.col("_first_row_id") + F.col("_pos")).alias("_row_id")
    )
