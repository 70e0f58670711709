"""Import (adopt) an external Apache Iceberg v2 table as a MoonTable.

The inverse of export.py — together they make the engine's interop
bidirectional: a user can hand any spec-compliant Iceberg table (what the
reference engine produces, iceberg_table_manager.rs) to `import_iceberg`
and get a fully-maintainable MoonTable:

  - data parquet files are registered IN PLACE (add_files semantics,
    batch_ingestion.rs:20-166 — no rewrite; stats come from a distributed
    parquet-footer job, which also reads each file's key column and writes
    its key-index sidecar into the new table's data directory);
  - position-delete files are converted to our bitmap deletion vectors
    (the reverse of the export's DV→spec-parquet translation), with
    per-file deleted_count updated so compaction's delete-ratio trigger
    sees the imported deletes;
  - the Iceberg schema JSON becomes the Spark schema and its field-ids
    are adopted into the dotted-path ledger, so later schema evolution
    stays consistent with the source table's ids.

Scale: the footer-stats job and the delete-file read are distributed; the
deletes' (file_path, pos) rows are collected once and folded into bitmaps
on the driver (see import_iceberg for the bound); metadata work is
O(files/25k) driver-side like any Iceberg planner.
"""

from __future__ import annotations

import os

import pyspark.sql.types as T
from pyspark.sql import SparkSession, functions as F

from moonlink_spark.catalog.metadata import TableMetadata
from moonlink_spark.iceberg.reader import (
    _canon_partition,
    _manifest_entries,
    _manifest_list_entries,
    check_supported,
    equality_delete_join,
    identity_partition_sources,
    load_iceberg_metadata,
    partition_pruner_fields,
    resolve_schema,
)
from moonlink_spark.table import MoonTable, fold_live_positions


from moonlink_spark.iceberg.spec import spark_type as _spark_type


def _adopt_ids(fields: list[dict], prefix: str = "") -> dict[str, int]:
    ids: dict[str, int] = {}
    for f in fields:
        path = prefix + f["name"]
        ids[path] = int(f["id"])
        ids.update(_adopt_type_ids(f["type"], path))
    return ids


def _adopt_type_ids(t, path: str) -> dict[str, int]:
    """Nested slot ids: struct fields recurse; list element-id and map
    key-id/value-id land under the ledger's synthetic sub-paths."""
    ids: dict[str, int] = {}
    if not isinstance(t, dict):
        return ids
    kind = t.get("type")
    if kind == "struct":
        ids.update(_adopt_ids(t["fields"], path + "."))
    elif kind == "list":
        ids[path + ".element"] = int(t["element-id"])
        ids.update(_adopt_type_ids(t["element"], path + ".element"))
    elif kind == "map":
        ids[path + ".key"] = int(t["key-id"])
        ids.update(_adopt_type_ids(t["key"], path + ".key"))
        ids[path + ".value"] = int(t["value-id"])
        ids.update(_adopt_type_ids(t["value"], path + ".value"))
    return ids


def _equality_to_position_deletes(
    spark: SparkSession, ice_schema: dict, data_entries: list[dict],
    eq_entries: list[dict],
):
    """Convert equality-delete files (content=2, e.g. Flink CDC output)
    into (file_path, pos) rows at adoption time — one distributed join per
    distinct equality-id set, so the adopted table needs only our bitmap
    DVs afterwards.

    Spec semantics: an equality delete applies to rows in data files whose
    data sequence number is STRICTLY LESS than the delete file's, matching
    on the equality-id columns with NULL == NULL, and, for a delete written
    under a partitioned spec, only in data files of the same spec and
    partition tuple (Iceberg spec, "Equality Delete Files";
    reader.equality_delete_join, which the Iceberg scan shares). At 100 TB
    this is a shuffle of the table keyed on the equality columns against
    the (much smaller) delete set — the same plan an engine-native
    eq-delete apply runs."""
    from collections import defaultdict

    from moonlink_spark.catalog.metadata import file_path_col, norm_path

    id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
    groups: dict[tuple, list[dict]] = defaultdict(list)
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
        groups[key].append(e)

    data_seq_df = F.broadcast(spark.createDataFrame(
        [(norm_path(e["file_path"]), int(e["_seq"]), e["_pkey"]) for e in data_entries],
        "file_path string, _dseq long, _pkey string",
    ))
    data_paths = [e["file_path"] for e in data_entries]
    parts = []
    for key_cols, entries in groups.items():
        data = spark.read.parquet(*data_paths).select(
            *key_cols,
            file_path_col(data_paths).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        ).join(data_seq_df, "file_path")
        parts.append(
            equality_delete_join(spark, data, entries, key_cols, "left_semi")
            .select("file_path", F.col("pos").cast("long"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _check_partition_columns_materialized(
    spark: SparkSession, required: dict[str, list[str]]
) -> None:
    """Adoption gate for identity-partitioned sources: MoonTable stores no
    per-file partition metadata (it registers the parquet in place and
    scans it directly), so every identity partition column recorded in a
    file's manifest entry must be PHYSICALLY present in that file —
    otherwise the adopted scan would silently read NULL where the Iceberg
    metadata held the value. Footer-only check, distributed over the file
    list (no data read); spec writers materialize identity sources in the
    data, so real tables pass."""
    rows = [(p, ",".join(cols)) for p, cols in required.items() if cols]
    if not rows:
        return

    def _check(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            errs = []
            for path, csv in zip(
                batch.column("path").to_pylist(), batch.column("req").to_pylist()
            ):
                names = set(pq.read_schema(path).names)
                miss = [c for c in csv.split(",") if c not in names]
                if miss:
                    errs.append(f"{path} lacks identity partition column(s) {miss}")
            yield pa.RecordBatch.from_arrays(
                [pa.array(errs, type=pa.string())], names=["err"]
            )

    errs = (
        spark.createDataFrame(rows, "path string, req string")
        .repartition(min(len(rows), 64))
        .mapInArrow(_check, "err string")
        .take(5)
    )
    if errs:
        raise ValueError(
            "cannot adopt identity-partitioned table: "
            + "; ".join(r["err"] for r in errs)
            + " — import requires partition source columns materialized in "
            "the data files (MoonTable keeps no per-file partition metadata)"
        )


def import_iceberg(
    spark: SparkSession,
    src_root: str,
    dest_root: str,
    key_columns: list[str] | None = None,
    snapshot_id: int | None = None,
) -> MoonTable:
    """Adopt the Iceberg table at *src_root* as a new MoonTable rooted at
    *dest_root* (metadata only — data files stay where they are). Returns
    the loaded MoonTable; its scan equals the Iceberg scan of the same
    snapshot. *key_columns* defaults to the first schema column (needed
    for MERGE; scans work regardless).

    The source's position, puffin and equality deletes are collected to
    the driver once as (file_path, pos) rows, folded into one bitmap row
    per target file and written as one DV file: the driver holds imported
    positions × (path + 8) bytes."""
    meta = load_iceberg_metadata(src_root)
    check_supported(meta, src_root)
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    # adopt the schema the imported snapshot was WRITTEN under (schema-id
    # resolution), not blindly schemas[0]
    ice_schema = resolve_schema(meta, snap)
    schema = T.StructType(
        [
            T.StructField(f["name"], _spark_type(f["type"]), not f.get("required"))
            for f in ice_schema["fields"]
        ]
    )
    key_columns = key_columns or [ice_schema["fields"][0]["name"]]

    spec_sources = identity_partition_sources(meta)
    spec_pruners = partition_pruner_fields(meta)
    data_entries: list[dict] = []
    delete_paths: list[str] = []
    puffin_entries: list[dict] = []
    eq_entries: list[dict] = []
    for m in _manifest_list_entries(spark, snap["manifest-list"]):
        src_by_pfield = spec_sources.get(m.get("partition_spec_id", 0), {})
        spec_id = m.get("partition_spec_id", 0)
        for e in _manifest_entries(spark, m["manifest_path"]):
            if e["status"] == 2:
                continue
            # (spec, partition tuple) key scoping equality deletes, as the
            # Iceberg scan does
            e["_pkey"] = _canon_partition(
                spec_id, spec_pruners.get(spec_id, []), e.get("partition") or {}
            )
            e["_part_cols"] = sorted(
                src_by_pfield[name]
                for name in (e.get("partition") or {})
                if name in src_by_pfield
            )
            # entry-level sequence, inheriting the manifest's on null
            # (the spec's sequence-number inheritance for ADDED entries)
            e["_seq"] = (
                e["sequence_number"]
                if e.get("sequence_number") is not None
                else m["sequence_number"]
            )
            if e["content"] == 0:
                data_entries.append(e)
            elif e["content"] == 2:
                eq_entries.append(e)
            elif e.get("file_format") == "PUFFIN":
                puffin_entries.append(e)
            else:
                delete_paths.append(e["file_path"])
    data_paths = [e["file_path"] for e in data_entries]
    _check_partition_columns_materialized(
        spark, {e["file_path"]: e.get("_part_cols", []) for e in data_entries}
    )

    t = MoonTable.create(spark, dest_root, schema, key_columns=key_columns)
    # adopt the source's field ids (incl. nested) so evolution continues
    # from the same id space; ids are never reused afterwards
    ids = _adopt_ids(ice_schema["fields"])

    def adopt(tmeta: TableMetadata) -> None:
        tmeta.field_ids = ids
        # never reuse an id from ANY schema in the source's history (dropped
        # columns in newer/older schemas must not be resurrected under a
        # new name)
        tmeta.next_field_id = max([meta.get("last-column-id", 0)] + list(ids.values())) + 1

    t.catalog.update(adopt, "adopt the source's field ids")

    t.add_files(data_paths, run_id="iceberg-import")

    if delete_paths or puffin_entries or eq_entries:
        # spec position deletes (v2 parquet and/or v3 puffin DV blobs) ->
        # bitmap DVs; file_path values are normalized the way our scanner
        # reports them
        parts = []
        if delete_paths:
            parts.append(
                spark.read.parquet(*delete_paths).select(
                    F.col("file_path").cast("string"), F.col("pos").cast("long")
                )
            )
        if puffin_entries:
            from moonlink_spark.iceberg.reader import puffin_delete_rows

            parts.append(
                puffin_delete_rows(spark, puffin_entries).select(
                    F.col("_fp").alias("file_path"), F.col("_pos").alias("pos")
                )
            )
        if eq_entries:
            parts.append(
                _equality_to_position_deletes(
                    spark, ice_schema, data_entries, eq_entries
                )
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        positions = dels.select(
            F.regexp_replace(F.col("file_path"), "^file:(//)?", "").alias("file_path"),
            F.col("pos").cast("long"),
        ).toArrow()
        bitmaps = fold_live_positions(positions)
        delete_files = (
            [t.write_position_deletes(bitmaps, "iceberg-import-dv")] if bitmaps.num_rows else []
        )
        per_file = dict(zip(
            bitmaps.column("file_path").to_pylist(), bitmaps.column("n_positions").to_pylist()
        ))

        def build(data, deletes):
            for f in data:
                extra = per_file.get(f.file_path, 0)
                if extra:
                    f.deleted_count += int(extra)
            return data, deletes + delete_files

        t.commit_files(
            "import-deletes",
            build,
            summary={
                "imported-from": os.path.abspath(src_root),
                "imported-position-deletes": sum(per_file.values()),
                "imported-delete-files": len(delete_paths) + len(puffin_entries),
            },
        )
    return t
