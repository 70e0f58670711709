"""Protobuf CDC source: landed topic dumps of proto3-encoded event payloads
→ the (op, lsn, <row>) change frame (reference surface:
rest_ingest/proto_converter.rs). The wire codec is from-spec
(https://protobuf.dev/programming-guides/encoding/) and pinned by
byte-golden vectors taken from the spec document's own examples, since
neither the python protobuf runtime nor spark-protobuf exists in this
container to cross-validate against."""

import io

import pyspark.sql.types as T
import pytest

from moonlink_spark.operators.merge import merge_into
from moonlink_spark.sources.proto_cdc import (
    _decode_message,
    _encode_fields,
    _event_struct,
    _field_layout,
    read_proto_cdc,
    stage_proto_dump,
)
from moonlink_spark.table import MoonTable

SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("flag", T.BooleanType(), True),
    T.StructField("blob", T.BinaryType(), True),
])

EV_SCHEMA = T.StructType([
    T.StructField("op", T.StringType(), False),
    T.StructField("lsn", T.LongType(), False),
    *SCHEMA.fields,
])


def _enc(layout, rec) -> bytes:
    out = io.BytesIO()
    _encode_fields(out, layout, rec)
    return out.getvalue()


def test_proto_spec_byte_golden():
    """The encoder reproduces the encoding-spec document's own examples:
    `message Test1 { int32 a = 1; }` with a=150 → 08 96 01;
    `message Test2 { string b = 2; }` with b="testing" → 12 07 74 65 73
    74 69 6e 67; `message Test3 { Test1 c = 3; }` → 1a 03 08 96 01;
    packed `repeated int32 f = 6` [3, 270, 86942] → 32 06 03 8e 02 9e a7
    05. Negative int64 -2 encodes as the 10-byte two's-complement varint."""
    t1 = _field_layout(T.StructType([T.StructField("a", T.IntegerType())]))
    assert _enc(t1, {"a": 150}) == bytes.fromhex("089601")

    t2 = [("b", 2, T.StringType())]
    assert _enc(t2, {"b": "testing"}) == bytes.fromhex("120774657374696e67")

    t3 = [("c", 3, T.StructType([T.StructField("a", T.IntegerType())]))]
    assert _enc(t3, {"c": {"a": 150}}) == bytes.fromhex("1a03089601")

    t6 = [("f", 6, T.ArrayType(T.IntegerType()))]
    assert _enc(t6, {"f": [3, 270, 86942]}) == bytes.fromhex(
        "3206038e029ea705")

    tneg = _field_layout(T.StructType([T.StructField("a", T.LongType())]))
    assert _enc(tneg, {"a": -2}) == bytes.fromhex("08feffffffffffffffff01")
    # and every vector round-trips
    for layout, rec in [(t1, {"a": 150}), (t2, {"b": "testing"}),
                        (t6, {"f": [3, 270, 86942]}),
                        (tneg, {"a": -2})]:
        b = _enc(layout, rec)
        assert _decode_message(b, 0, len(b), layout, True) == rec


def test_proto_presence_nulls_and_types_roundtrip():
    """proto3 explicit presence: absent = NULL, present-at-default still
    encodes; full type matrix incl. maps, arrays of strings, nested."""
    st = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("raw", T.BinaryType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        T.StructField("meta", T.StructType([T.StructField("x", T.LongType())])),
    ])
    layout = _field_layout(st)
    rec = {"s": "", "i": 0, "l": -7, "b": False, "f": 1.5, "d": -2.25,
           "raw": b"\x00\xff", "tags": ["a", "", "c"],
           "attrs": {"k1": 0, "k2": -9}, "meta": {"x": 42}}
    b = _enc(layout, rec)
    got = _decode_message(b, 0, len(b), layout, True)
    assert got == rec  # zeros/empties survive (presence, not defaultness)

    sparse = {"s": None, "i": None, "l": 1, "b": None, "f": None, "d": None,
              "raw": None, "tags": None, "attrs": None, "meta": None}
    b2 = _enc(layout, sparse)
    assert _decode_message(b2, 0, len(b2), layout, True) == sparse


def test_proto_strict_rejection():
    """Unknown field numbers, wire-type mismatches, truncation: strict
    raises; non-strict skips unknown fields."""
    layout = _field_layout(T.StructType([T.StructField("a", T.IntegerType())]))
    unknown = bytes.fromhex("089601") + bytes.fromhex("109601")  # field 2
    with pytest.raises(ValueError, match="unknown field"):
        _decode_message(unknown, 0, len(unknown), layout, True)
    assert _decode_message(unknown, 0, len(unknown), layout, False) == {"a": 150}
    wrong_wire = bytes.fromhex("0a0100")  # field 1 as LEN, expected VARINT
    with pytest.raises(ValueError, match="wire type"):
        _decode_message(wrong_wire, 0, len(wrong_wire), layout, True)
    with pytest.raises(ValueError, match="truncated"):
        _decode_message(b"\x08\x96", 0, 2, layout, True)


def test_proto_roundtrip_and_merge(spark, tmp_path):
    rows = [
        ("I", 10, "a1", 640, True, bytearray(b"\x00\xff")),
        ("I", 10, "a2", 480, False, None),
        ("U", 20, "a1", 1024, None, None),
        ("D", 20, "a2", None, None, None),
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    p = str(tmp_path / "dump")
    stage_proto_dump(df, p)
    ch = read_proto_cdc(spark, p, SCHEMA)
    assert ch.schema == _event_struct(SCHEMA)
    got = {(r["op"], r["image_id"]): r for r in ch.collect()}
    assert set(got) == {("I", "a1"), ("I", "a2"), ("U", "a1"), ("D", "a2")}
    assert got[("I", "a1")]["w"] == 640 and got[("I", "a1")]["flag"] is True
    assert bytes(got[("I", "a1")]["blob"]) == b"\x00\xff"
    assert got[("I", "a2")]["flag"] is False  # present default ≠ NULL
    assert got[("U", "a1")]["flag"] is None
    assert got[("D", "a2")]["w"] is None

    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_columns=["image_id"])
    t.append(spark.createDataFrame(
        [("a2", 1, True, None), ("a9", 9, False, None)], SCHEMA),
        run_id="base")
    merge_into(t, ch, run_id="m1")
    final = {r["image_id"]: r for r in t.scan().collect()}
    assert set(final) == {"a1", "a9"}
    assert final["a1"]["w"] == 1024
    assert t.current_flush_lsn() == 20


def test_proto_strict_rejects_in_stream(spark, tmp_path):
    """A corrupt payload riding in a landed file fails the job in strict
    mode and is dropped (valid rows kept) in non-strict."""
    df = spark.createDataFrame(
        [("I", 5, "ok", 1, None, None)], EV_SCHEMA)
    stage_proto_dump(df, str(tmp_path / "good"))
    good = spark.read.parquet(str(tmp_path / "good")).collect()[0]["value"]
    spark.createDataFrame(
        [(bytearray(b"\x08\x96"),), (bytearray(bytes(good)),)],
        "value binary").write.parquet(str(tmp_path / "mixed"))
    with pytest.raises(Exception, match="malformed proto"):
        read_proto_cdc(spark, str(tmp_path / "mixed"), SCHEMA).collect()
    kept = read_proto_cdc(spark, str(tmp_path / "mixed"), SCHEMA,
                          strict=False).collect()
    assert [(r["op"], r["image_id"]) for r in kept] == [("I", "ok")]


def test_proto_streaming_ingest(spark, tmp_path):
    from moonlink_spark.streaming.ingest import ingest_cdc_dir

    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_columns=["image_id"])
    t.append(spark.createDataFrame([("a2", 1, True, None)], SCHEMA),
             run_id="base")
    stage_proto_dump(spark.createDataFrame([
        ("I", 10, "a1", 640, True, None),
        ("D", 20, "a2", None, None, None),
    ], EV_SCHEMA), str(tmp_path / "topic"))
    ingest_cdc_dir(t, str(tmp_path / "topic"), str(tmp_path / "ckpt"),
                   format="proto")
    assert {r["image_id"] for r in t.scan().collect()} == {"a1"}
    assert t.current_flush_lsn() == 20


def test_proto_map_entry_default_struct_and_temporal_values():
    """An omitted map-entry value takes its type's proto3 default in the
    decoder's value form: a struct is a row of its fields' defaults, a date
    or timestamp is the epoch. A value type with no proto3 default raises."""
    import datetime

    import pandas as pd

    from moonlink_spark.sources.proto_cdc import _proto3_default

    inner = T.StructType([
        T.StructField("x", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ])
    entry = bytes([0x0A, 0x01, ord("k")])  # key "k", value omitted
    buf = bytes([0x0A, len(entry)]) + entry
    for vt, want in [
        (inner, {"x": 0, "s": "", "ok": False}),
        (T.DateType(), datetime.date(1970, 1, 1)),
        (T.TimestampType(), pd.Timestamp("1970-01-01")),
    ]:
        layout = [("m", 1, T.MapType(T.StringType(), vt))]
        got = _decode_message(buf, 0, len(buf), layout, True)
        assert got == {"m": {"k": want}}, vt
        # the default is the same value the decoder gives an encoded zero
        enc = _enc(layout, {"m": {"k": want}})
        assert _decode_message(enc, 0, len(enc), layout, True) == got
    with pytest.raises(TypeError, match="no proto3 default"):
        _proto3_default(T.ArrayType(T.LongType()))
