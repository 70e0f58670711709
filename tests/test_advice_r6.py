"""Round-6 correctness fixes (ADVICE items): equality-delete partition
scoping, temporal identity-partition fill, empty-path filter validation and
_row_id shape, tz-aware transform values, proto3 map-entry defaults."""

from __future__ import annotations

import json
import os

import pytest


def _write_external(tmp_path, data_entries, delete_entries, schema_fields,
                    partition_specs, data_builder):
    """Hand-built spec-compliant v2 external table (same construction as
    test_iceberg.test_import_converts_equality_deletes, plus partitioned
    specs). *data_entries*/*delete_entries*: (name, partition_dict,
    spec_id, seq, rows, eq_ids). Returns the table root."""
    import pyarrow.parquet as pq

    from moonlink_spark.iceberg.avro_io import write_avro_file
    from moonlink_spark.iceberg.spec import (
        MANIFEST_FILE_SCHEMA,
        manifest_entry_schema,
    )

    root = tmp_path / "ext"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    schema_json = json.dumps(
        {"type": "struct", "schema-id": 0, "fields": schema_fields}
    )
    spec_avro_fields = {
        spec["spec-id"]: [
            {
                "name": f["name"],
                "field-id": f["field-id"],
                "type": f.get("avro-type", "long"),
            }
            for f in spec["fields"]
        ]
        for spec in partition_specs
    }

    def _entry(path, content, part, seq, nrows, eq_ids=None):
        df = {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": part,
            "record_count": nrows,
            "file_size_in_bytes": os.path.getsize(path),
        }
        if eq_ids:
            df["equality_ids"] = eq_ids
        return {
            "status": 1,
            "snapshot_id": 77,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": df,
        }

    mdir = str(root / "metadata")
    manifests = []
    groups = [("data", 0, data_entries)]
    if delete_entries:
        groups.append(("deletes", 1, delete_entries))
    for tag, (kind, content_flag, entries) in enumerate(groups):
        by_spec: dict[int, list] = {}
        for e in entries:
            by_spec.setdefault(e[2], []).append(e)
        for spec_id, es_list in by_spec.items():
            avro_entries = []
            for name, part, _sid, seq, rows, eq_ids in es_list:
                p = str(root / "data" / name)
                pq.write_table(data_builder(rows), p)
                avro_entries.append(
                    _entry(p, 0 if kind == "data" else 2, part, seq,
                           len(rows), eq_ids)
                )
            mp = os.path.join(mdir, f"manifest-{kind}-{spec_id}-{tag}.avro")
            es = manifest_entry_schema(spec_avro_fields.get(spec_id) or None)
            size = write_avro_file(
                mp, es, avro_entries,
                metadata={
                    "schema": schema_json.encode(),
                    "schema-id": b"0",
                    "partition-spec": b"[]",
                    "partition-spec-id": str(spec_id).encode(),
                    "format-version": b"2",
                    "content": ("data" if kind == "data" else "deletes").encode(),
                },
            )
            manifests.append(
                {
                    "manifest_path": mp,
                    "manifest_length": size,
                    "partition_spec_id": spec_id,
                    "content": content_flag,
                    "sequence_number": 3,
                    "min_sequence_number": 1,
                    "added_snapshot_id": 77,
                    "added_data_files_count": len(avro_entries),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                    "added_rows_count": sum(
                        e["data_file"]["record_count"] for e in avro_entries
                    ),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "partitions": None,
                }
            )
    ml = os.path.join(mdir, "snap-77-1-x.avro")
    write_avro_file(
        ml, MANIFEST_FILE_SCHEMA, manifests,
        metadata={"format-version": b"2", "snapshot-id": b"77",
                  "sequence-number": b"3"},
    )
    meta = {
        "format-version": 2,
        "table-uuid": "0" * 36,
        "location": str(root),
        "last-sequence-number": 3,
        "last-updated-ms": 1,
        "last-column-id": max(f["id"] for f in schema_fields),
        "current-schema-id": 0,
        "schemas": [json.loads(schema_json)],
        "default-spec-id": partition_specs[0]["spec-id"],
        "partition-specs": [
            {"spec-id": s["spec-id"],
             "fields": [
                 {k: v for k, v in f.items() if k != "avro-type"}
                 for f in s["fields"]
             ]}
            for s in partition_specs
        ],
        "last-partition-id": 1999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 77,
        "snapshots": [
            {"snapshot-id": 77, "sequence-number": 3, "timestamp-ms": 1,
             "manifest-list": ml, "summary": {"operation": "append"},
             "schema-id": 0}
        ],
        "snapshot-log": [{"snapshot-id": 77, "timestamp-ms": 1}],
        "metadata-log": [],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")
    return str(root)


def test_eq_delete_partition_scoped(spark, tmp_path):
    """An equality delete written under a PARTITIONED spec applies only to
    data files with the same partition tuple; one written under an
    unpartitioned spec applies globally (spec scoping rule). Before the
    fix, the pt=1 delete of a1 also removed a1 from pt=2."""
    import pyarrow as pa

    from moonlink_spark.iceberg import read_iceberg_scan

    schema_fields = [
        {"id": 1, "name": "image_id", "required": True, "type": "string"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
        {"id": 3, "name": "pt", "required": False, "type": "long"},
    ]
    specs = [
        {"spec-id": 1,
         "fields": [{"name": "pt", "transform": "identity", "source-id": 3,
                     "field-id": 1000, "avro-type": "long"}]},
        {"spec-id": 0, "fields": []},
    ]

    def build(rows):
        ids, pt = zip(*rows)
        return pa.table({
            "image_id": list(ids),
            "v": list(range(len(ids))),
            "pt": list(pt),
        })

    rows1 = [(f"a{i}", 1) for i in range(3)]
    rows2 = [(f"a{i}", 2) for i in range(3)]
    root = _write_external(
        tmp_path,
        data_entries=[
            ("f1.parquet", {"pt": 1}, 1, 1, rows1, None),
            ("f2.parquet", {"pt": 2}, 1, 1, rows2, None),
        ],
        delete_entries=[
            # scoped: delete a1 ONLY in partition pt=1
            ("d1.parquet", {"pt": 1}, 1, 2, [("a1", 1)], [1]),
            # global (unpartitioned spec): delete a2 everywhere
            ("d2.parquet", {}, 0, 2, [("a2", 0)], [1]),
        ],
        schema_fields=schema_fields,
        partition_specs=specs,
        data_builder=build,
    )
    got = sorted(
        (r["pt"], r["image_id"])
        for r in read_iceberg_scan(spark, root, columns=["pt", "image_id"]).collect()
    )
    assert got == [(1, "a0"), (2, "a0"), (2, "a1")]


def test_identity_date_partition_fill(spark, tmp_path):
    """Identity date-partitioned external table: manifest partition values
    are the spec's raw day ints; the constant-fill broadcast map must
    convert them to date objects (before the fix read_iceberg_scan raised
    TypeError), including for files where the column is physically
    absent (filled from the manifest)."""
    from datetime import date

    import pyarrow as pa

    from moonlink_spark.iceberg import read_iceberg_scan

    d1, d2 = date(2024, 3, 1), date(2024, 3, 2)
    days1 = (d1 - date(1970, 1, 1)).days
    days2 = (d2 - date(1970, 1, 1)).days
    schema_fields = [
        {"id": 1, "name": "image_id", "required": True, "type": "string"},
        {"id": 2, "name": "d", "required": False, "type": "date"},
    ]
    specs = [
        {"spec-id": 1,
         "fields": [{"name": "d", "transform": "identity", "source-id": 2,
                     "field-id": 1000,
                     "avro-type": {"type": "int", "logicalType": "date"}}]},
    ]

    def build(rows):
        ids = [r[0] for r in rows]
        if rows[0][1] is None:
            return pa.table({"image_id": ids})  # column physically absent
        return pa.table({
            "image_id": ids,
            "d": pa.array([r[1] for r in rows], pa.date32()),
        })

    root = _write_external(
        tmp_path,
        data_entries=[
            ("f1.parquet", {"d": days1}, 1, 1, [("x1", d1), ("x2", d1)], None),
            ("f2.parquet", {"d": days2}, 1, 1, [("y1", None)], None),
        ],
        delete_entries=[],
        schema_fields=schema_fields,
        partition_specs=specs,
        data_builder=build,
    )
    got = sorted(
        (r["image_id"], r["d"])
        for r in read_iceberg_scan(spark, root, columns=["image_id", "d"]).collect()
    )
    assert got == [("x1", d1), ("x2", d1), ("y1", d2)]

    # empty-path shape fixes: a typo'd partition_filter column raises even
    # when pruning yields an empty scan; an all-pruned scan keeps _row_id
    with pytest.raises(ValueError, match="non-partition column"):
        read_iceberg_scan(spark, root, partition_filter={"nope": 1})


def test_tz_aware_transform_values():
    """Aware datetimes convert to UTC before the spec integer forms."""
    from datetime import datetime, timedelta, timezone

    from moonlink_spark.iceberg.transforms import apply_transform

    tz = timezone(timedelta(hours=5))
    aware = datetime(2024, 3, 1, 4, 30, tzinfo=tz)  # 2024-02-29T23:30Z
    naive_utc = datetime(2024, 2, 29, 23, 30)
    for tr in ("identity", "day", "hour"):
        assert apply_transform(tr, aware, "timestamptz") == apply_transform(
            tr, naive_utc, "timestamptz"
        ), tr


def test_proto_map_entry_defaults(spark):
    """A conformant proto3 encoder omits default-valued map entry
    key/value fields; the decoder must substitute ''/0/false, not None."""
    import pyspark.sql.types as T

    from moonlink_spark.sources.proto_cdc import _decode_message

    schema = T.StructType([
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    ])
    layout = [("m", 1, schema["m"].dataType)]
    # field 1, LEN, empty entry message (both key and value omitted)
    buf = bytes([0x0A, 0x00])
    out = _decode_message(buf, 0, len(buf), layout, strict=True)
    assert out["m"] == {"": 0}
    # key present, value omitted -> value defaults to 0
    entry = bytes([0x0A, 0x01, ord("k")])  # key field (1, LEN, len=1) = "k"
    buf = bytes([0x0A, len(entry)]) + entry
    out = _decode_message(buf, 0, len(buf), layout, strict=True)
    assert out["m"] == {"k": 0}


def _date_partitioned_with_eq_delete(tmp_path):
    """x1 lives in partitions d1 and d2; an equality delete of x1 written
    under the same date-partitioned spec targets partition d1 only."""
    from datetime import date

    import pyarrow as pa

    days1 = (date(2024, 3, 1) - date(1970, 1, 1)).days
    schema_fields = [
        {"id": 1, "name": "image_id", "required": True, "type": "string"},
        {"id": 2, "name": "d", "required": False, "type": "date"},
    ]
    specs = [
        {"spec-id": 1,
         "fields": [{"name": "d", "transform": "identity", "source-id": 2,
                     "field-id": 1000,
                     "avro-type": {"type": "int", "logicalType": "date"}}]},
    ]

    def build(rows):
        return pa.table({
            "image_id": [r[0] for r in rows],
            "d": pa.array([r[1] for r in rows], pa.int32()).cast(pa.date32()),
        })

    root = _write_external(
        tmp_path,
        data_entries=[
            ("f1.parquet", {"d": days1}, 1, 1, [("x0", days1), ("x1", days1)], None),
            ("f2.parquet", {"d": days1 + 1}, 1, 1, [("x1", days1 + 1)], None),
        ],
        delete_entries=[("d1.parquet", {"d": days1}, 1, 2, [("x1", days1)], [1])],
        schema_fields=schema_fields,
        partition_specs=specs,
        data_builder=build,
    )
    return root, days1


def _with_delete_partition(monkeypatch, convert):
    """Decode the delete entries' partition tuples through *convert*, as a
    manifest decoder other than the data entries' one might."""
    from moonlink_spark.iceberg import reader

    orig = reader._manifest_entries

    def entries(spark, path):
        out = orig(spark, path)
        for e in out:
            if e["content"] == 2:
                e["partition"] = convert(e["partition"])
        return out

    monkeypatch.setattr(reader, "_manifest_entries", entries)


def test_eq_delete_scope_compares_storage_form(spark, tmp_path, monkeypatch):
    """A delete whose date partition value decodes as a date object (the Avro
    date logical type applied) still matches data entries that decoded the
    same value as days: scoping compares the spec's storage form, not repr.
    Before the fix the delete matched nothing and x1 stayed in d1."""
    from datetime import date, timedelta

    from moonlink_spark.iceberg import read_iceberg_scan

    root, days1 = _date_partitioned_with_eq_delete(tmp_path)
    _with_delete_partition(
        monkeypatch, lambda p: {k: date(1970, 1, 1) + timedelta(days=v) for k, v in p.items()}
    )
    got = sorted((r["image_id"], r["d"]) for r in read_iceberg_scan(spark, root).collect())
    assert got == [("x0", date(2024, 3, 1)), ("x1", date(2024, 3, 2))]


def test_eq_delete_partitioned_spec_never_global(spark, tmp_path, monkeypatch):
    """A delete written under a partitioned spec whose tuple decodes empty is
    scoped to a NULL partition, which no data file here has: it must not
    apply globally. Before the fix it deleted x1 from both partitions."""
    from datetime import date

    from moonlink_spark.iceberg import read_iceberg_scan

    root, _ = _date_partitioned_with_eq_delete(tmp_path)
    _with_delete_partition(monkeypatch, lambda p: {})
    got = sorted((r["image_id"], r["d"]) for r in read_iceberg_scan(spark, root).collect())
    assert got == [("x0", date(2024, 3, 1)), ("x1", date(2024, 3, 1)), ("x1", date(2024, 3, 2))]


@pytest.mark.parametrize("dirname", ["plain", "a b%c"])
def test_eq_delete_scoped_on_import(spark, tmp_path, dirname):
    """import_iceberg converts a partitioned-spec equality delete within its
    partition only, as the Iceberg scan applies it (before the fix it
    deleted x1 from both partitions). Under "a b%c", Spark URI-escapes
    _metadata.file_path ("a%20b%25c") while manifests hold the plain path;
    the delete must still apply in both reads."""
    from datetime import date

    from moonlink_spark.iceberg import read_iceberg_scan
    from moonlink_spark.iceberg.importer import import_iceberg

    root, _ = _date_partitioned_with_eq_delete(tmp_path / dirname)
    want = [("x0", date(2024, 3, 1)), ("x1", date(2024, 3, 2))]
    got = sorted((r["image_id"], r["d"]) for r in read_iceberg_scan(spark, root).collect())
    assert got == want
    t = import_iceberg(spark, str(root), str(tmp_path / "adopted"))
    assert sorted((r["image_id"], r["d"]) for r in t.scan().collect()) == want
