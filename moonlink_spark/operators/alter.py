"""Schema evolution: add / drop columns — top-level or NESTED struct fields.

Mirrors moonlink's AlterTableRequest { new_columns, dropped_columns }
(reference: mooncake_table.rs:100-103,616-651 — validated against key
columns; persisted as a direct metadata commit, file_catalog.rs:686-703)
extended to the reference's full nested type surface
(rest_ingest/schema_util.rs:75-180 accepts struct/list/decimal/date;
iceberg_table_manager.rs:88-89 round-trips PARQUET:field_id at any depth).

Spark-first: this is a METADATA-ONLY commit — no data files are rewritten.
Scans project through the current schema BY FIELD ID at any depth: files
written before an added (possibly nested) field read it as NULL; a field
dropped then re-added under the same name gets a FRESH id, so pre-drop
files project NULL instead of resurrecting stale physical values. At
10^12-image scale a schema change therefore costs one catalog CAS, not an
exabyte rewrite.

Nested paths are DOTTED: add_columns=[StructField("meta.score", ...)] adds
`score` inside the struct column `meta`; drop_columns=["meta.h"] drops the
nested field. Dropping a struct retires its id and every descendant id.
"""

from __future__ import annotations

import json

import pyspark.sql.types as T

from moonlink_spark.catalog.metadata import TableMetadata, assign_field_ids, schema_paths
from moonlink_spark.table import MoonTable


def _drop_at(st: T.StructType, parts: list[str], path: str) -> T.StructType:
    fields = []
    for f in st.fields:
        if f.name != parts[0]:
            fields.append(f)
            continue
        if len(parts) == 1:
            continue  # the drop
        if not isinstance(f.dataType, T.StructType):
            raise ValueError(f"{path!r}: {f.name!r} is not a struct")
        fields.append(
            T.StructField(f.name, _drop_at(f.dataType, parts[1:], path), f.nullable)
        )
    return T.StructType(fields)


def _add_at(st: T.StructType, parts: list[str], fld: T.StructField, path: str) -> T.StructType:
    if not parts:
        return T.StructType(list(st.fields) + [fld])
    fields = []
    hit = False
    for f in st.fields:
        if f.name == parts[0]:
            hit = True
            if not isinstance(f.dataType, T.StructType):
                raise ValueError(f"{path!r}: parent {f.name!r} is not a struct")
            fields.append(
                T.StructField(
                    f.name, _add_at(f.dataType, parts[1:], fld, path), f.nullable
                )
            )
        else:
            fields.append(f)
    if not hit:
        raise ValueError(f"{path!r}: parent struct {parts[0]!r} not found")
    return T.StructType(fields)


def alter_table(
    table: MoonTable,
    add_columns: list[T.StructField] | None = None,
    drop_columns: list[str] | None = None,
) -> int:
    """Apply add/drop column changes (dotted names address nested struct
    fields); returns the new snapshot id.

    Key columns cannot be dropped (reference assert:
    mooncake_table.rs:644-647); added columns must be nullable (rows in
    pre-existing files have no value for them)."""
    add_columns = add_columns or []
    drop_columns = drop_columns or []

    def edit(meta: TableMetadata) -> None:
        schema = T.StructType.fromJson(json.loads(meta.schema_json))
        paths = {p for p, _ in schema_paths(schema)}

        for c in drop_columns:
            if c in meta.key_columns:
                raise ValueError(f"cannot drop key column {c!r}")
            if c not in paths:
                raise ValueError(f"cannot drop unknown column {c!r}")
        new_schema = schema
        for c in drop_columns:
            new_schema = _drop_at(new_schema, c.split("."), c)

        # validate adds against the EVOLVING schema, not the pre-alter paths
        # snapshot: add_columns=[meta, meta.x] in one call is legal (the parent
        # exists by the time the child is applied), while a child under a
        # just-dropped or never-added parent still fails cleanly in _add_at
        live = {p for p, _ in schema_paths(new_schema)}
        for f in add_columns:
            if f.name in live:
                raise ValueError(f"column {f.name!r} already exists")
            if not f.nullable:
                raise ValueError(f"added column {f.name!r} must be nullable")
            parts = f.name.split(".")
            leaf = T.StructField(parts[-1], f.dataType, True, f.metadata)
            new_schema = _add_at(new_schema, parts[:-1], leaf, f.name)
            live.add(f.name)
            live.update(f"{f.name}.{sub}" for sub, _ in schema_paths(f.dataType))

        meta.schema_json = new_schema.json()
        # field-id ledger over DOTTED PATHS: drops RETIRE the id (and every
        # descendant id — never reused); adds take fresh ids for the new path
        # and any nested paths inside an added struct — so a field re-added
        # under a dropped name, at any depth, gets a new id and scans of
        # pre-drop files project NULL instead of the stale physical values
        # (Iceberg field-id semantics; iceberg_table_manager.rs:88-89)
        if not meta.field_ids:  # legacy table: adopt ids for the pre-alter schema
            meta.field_ids, meta.next_field_id = assign_field_ids(schema)
        for c in drop_columns:
            meta.field_ids.pop(c, None)
            for k in [k for k in meta.field_ids if k.startswith(c + ".")]:
                meta.field_ids.pop(k)
        for f in add_columns:
            meta.field_ids[f.name] = meta.next_field_id
            meta.next_field_id += 1
            # fresh ids for every nested slot of the added type — struct
            # fields AND list element / map key/value sub-paths
            for sub, _ in schema_paths(f.dataType):
                meta.field_ids[f"{f.name}.{sub}"] = meta.next_field_id
                meta.next_field_id += 1

    table.catalog.update(edit, "alter the schema")
    # force an (empty-change) snapshot carrying the schema update, mirroring
    # moonlink's "force empty iceberg snapshot w/ schema update"
    # (table_handler.rs:449-467)
    return table.commit_files(
        "alter",
        lambda data, deletes: (data, deletes),
        summary={
            "added-columns": [f.name for f in add_columns],
            "dropped-columns": list(drop_columns),
        },
    )
