"""Protobuf CDC event source — the proto-converter analog.

The reference converts protobuf-encoded row events into typed rows against
a registered message descriptor (rest_ingest/proto_converter.rs, routed by
moonlink_service/src/rest_api.rs next to the JSON and Avro converters).
No broker or schema service exists in this sandbox, so — exactly like
sources/avro_cdc.py — the Spark-first analog consumes the landed form of a
topic: parquet files with one binary ``value`` column per event, each a
proto3-encoded

    message CdcEvent { string op = 1; int64 lsn = 2; <columns> = 3..; }

whose field numbers derive deterministically from the table's declared
Spark schema (op=1, lsn=2, then columns in schema order from 3).

Wire format is implemented FROM THE PUBLIC SPEC
(https://protobuf.dev/programming-guides/encoding/): varints, tag =
(field_number << 3) | wire_type, zigzag ONLY for the sint* types (we use
plain int32/int64 semantics — negatives are 10-byte two's-complement
varints), LEN-delimited strings/bytes/messages, I32/I64 for float/double,
PACKED repeated scalars, maps as repeated {key=1, value=2} entries.
Byte-golden tests pin the encoder to the spec document's own examples
(field 1 = 150 → ``08 96 01``; field 2 = "testing" → ``12 07 74 ...``).

NULL semantics follow proto3 explicit presence (``optional``): an absent
field decodes as NULL; a present field always encodes, even at its
default value. This is the distinction the CDC MERGE kernel needs (NULL
column vs zero-valued column) and matches how the reference's converter
treats optional row fields.

This container ships neither the python protobuf runtime nor the
spark-protobuf connector jar, so the decode path is the Arrow-batched
from-spec decoder (mapInPandas — flagged in the plan, same trade-off as
the Avro fallback). On a real cluster with spark-protobuf on the
classpath the JVM ``from_protobuf(value, messageName, binaryDescriptorSet)``
path is the drop-in upgrade; it is deliberately NOT hand-rolled here
because generating a binary FileDescriptorSet without the protobuf
runtime would be untestable in this environment.

Malformed payloads are REJECTED loudly in strict mode (unknown field
numbers, wire-type mismatches, truncated varints, trailing bytes), the
same contract as json_cdc/avro_cdc/wal2json.

At scale: the landed-topic directory is embarrassingly parallel; the
downstream is the same MERGE kernel as every other CDC source.
"""

from __future__ import annotations

import io
import struct
from typing import Callable, Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

_OPS = ("I", "U", "D")

_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


# ------------------------------------------------------------ wire helpers

def _write_varint(out: io.BytesIO, n: int) -> None:
    n &= (1 << 64) - 1  # two's complement for negatives, per spec
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


def _tag(field: int, wire: int) -> bytes:
    out = io.BytesIO()
    _write_varint(out, (field << 3) | wire)
    return out.getvalue()


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


# ------------------------------------------------- per-type encode/decode

Encoder = Callable[[io.BytesIO, object], None]
Decoder = Callable[[bytes, int, int], object]  # (buf, start, end) -> value


def _wire_type(dt: T.DataType) -> int:
    if isinstance(dt, T.FloatType):
        return _I32
    if isinstance(dt, T.DoubleType):
        return _I64
    if isinstance(dt, (T.StringType, T.BinaryType, T.StructType,
                       T.ArrayType, T.MapType)):
        return _LEN
    return _VARINT  # ints, bool, timestamp/date


def _scalar_encoder(dt: T.DataType) -> Encoder:
    """Encode one PRESENT value (no tag) onto the stream."""
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return lambda out, v: _write_varint(out, int(v))
    if isinstance(dt, T.BooleanType):
        return lambda out, v: _write_varint(out, 1 if v else 0)
    if isinstance(dt, T.FloatType):
        return lambda out, v: out.write(struct.pack("<f", float(v)))
    if isinstance(dt, T.DoubleType):
        return lambda out, v: out.write(struct.pack("<d", float(v)))
    if isinstance(dt, T.StringType):
        def enc_s(out, v):
            b = str(v).encode("utf-8")
            _write_varint(out, len(b))
            out.write(b)
        return enc_s
    if isinstance(dt, T.BinaryType):
        def enc_b(out, v):
            b = bytes(v)
            _write_varint(out, len(b))
            out.write(b)
        return enc_b
    if isinstance(dt, T.TimestampType):
        def enc_ts(out, v):
            ts = pd.Timestamp(v)
            if ts.tzinfo is None:
                ts = ts.tz_localize("UTC")
            _write_varint(out, int(ts.value // 1000))  # micros
        return enc_ts
    if isinstance(dt, T.DateType):
        return lambda out, v: _write_varint(
            out, (pd.Timestamp(v) - pd.Timestamp("1970-01-01")).days)
    if isinstance(dt, T.StructType):
        fields = _field_layout(dt)
        def enc_msg(out, v):
            body = io.BytesIO()
            _encode_fields(body, fields, _as_dict(v))
            b = body.getvalue()
            _write_varint(out, len(b))
            out.write(b)
        return enc_msg
    raise TypeError(f"unsupported proto CDC type {dt.simpleString()}")


def _as_dict(v) -> dict:
    return v if isinstance(v, dict) else v.asDict(recursive=False)


def _field_layout(st: T.StructType, first: int = 1) -> list[tuple]:
    """(name, number, dataType) per field, numbered in declaration order."""
    return [(f.name, first + i, f.dataType) for i, f in enumerate(st.fields)]


def _encode_field(out: io.BytesIO, number: int, dt: T.DataType, v) -> None:
    if v is None:
        return  # absent = NULL (proto3 explicit presence)
    if isinstance(dt, T.ArrayType):
        et = dt.elementType
        items = [x for x in v]
        if _wire_type(et) in (_VARINT, _I32, _I64):
            # PACKED repeated scalars (the proto3 default)
            body = io.BytesIO()
            enc = _scalar_encoder(et)
            for x in items:
                if x is None:
                    raise ValueError("NULL inside a repeated proto field")
                enc(body, x)
            b = body.getvalue()
            out.write(_tag(number, _LEN))
            _write_varint(out, len(b))
            out.write(b)
        else:
            enc = _scalar_encoder(et)
            for x in items:
                if x is None:
                    raise ValueError("NULL inside a repeated proto field")
                out.write(_tag(number, _LEN))
                enc(out, x)
        return
    if isinstance(dt, T.MapType):
        kenc = _scalar_encoder(dt.keyType)
        venc = _scalar_encoder(dt.valueType)
        kt, vt = _wire_type(dt.keyType), _wire_type(dt.valueType)
        for k, val in (v.items() if isinstance(v, dict) else v):
            entry = io.BytesIO()
            entry.write(_tag(1, kt))
            kenc(entry, k)
            if val is not None:
                entry.write(_tag(2, vt))
                venc(entry, val)
            b = entry.getvalue()
            out.write(_tag(number, _LEN))
            _write_varint(out, len(b))
            out.write(b)
        return
    out.write(_tag(number, _wire_type(dt)))
    _scalar_encoder(dt)(out, v)


def _encode_fields(out: io.BytesIO, layout: list[tuple], rec: dict) -> None:
    for name, number, dt in layout:
        v = rec.get(name)
        if v is not None and pd.api.types.is_scalar(v) and pd.isna(v):
            v = None
        _encode_field(out, number, dt, v)


def _scalar_decoder(dt: T.DataType) -> Decoder:
    """Decode one scalar payload given (buf, start, end) — for varints end
    is ignored; for LEN/I32/I64 [start, end) is the exact payload span."""
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return lambda buf, s, e: _to_signed64(_read_varint(buf, s)[0])
    if isinstance(dt, T.LongType):
        return lambda buf, s, e: _to_signed64(_read_varint(buf, s)[0])
    if isinstance(dt, T.BooleanType):
        return lambda buf, s, e: bool(_read_varint(buf, s)[0])
    if isinstance(dt, T.FloatType):
        return lambda buf, s, e: struct.unpack_from("<f", buf, s)[0]
    if isinstance(dt, T.DoubleType):
        return lambda buf, s, e: struct.unpack_from("<d", buf, s)[0]
    if isinstance(dt, T.StringType):
        return lambda buf, s, e: buf[s:e].decode("utf-8")
    if isinstance(dt, T.BinaryType):
        return lambda buf, s, e: bytes(buf[s:e])
    if isinstance(dt, T.TimestampType):
        return lambda buf, s, e: pd.Timestamp(
            _to_signed64(_read_varint(buf, s)[0]) * 1000, tz="UTC"
        ).tz_localize(None)
    if isinstance(dt, T.DateType):
        return lambda buf, s, e: (
            pd.Timestamp("1970-01-01")
            + pd.Timedelta(days=_to_signed64(_read_varint(buf, s)[0]))
        ).date()
    if isinstance(dt, T.StructType):
        layout = _field_layout(dt)
        return lambda buf, s, e: _decode_message(buf, s, e, layout, True)
    raise TypeError(f"unsupported proto CDC type {dt.simpleString()}")


def _proto3_default(dt: T.DataType):
    """proto3 default for a map-entry key or value omitted from the wire, in
    the decoder's own value form: a struct is a row of its fields'
    defaults, a date or timestamp is the epoch."""
    if isinstance(dt, T.StringType):
        return ""
    if isinstance(dt, T.BinaryType):
        return b""
    if isinstance(dt, T.BooleanType):
        return False
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return 0.0
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return 0
    if isinstance(dt, T.TimestampType):
        return pd.Timestamp(0)
    if isinstance(dt, T.DateType):
        return pd.Timestamp(0).date()
    if isinstance(dt, T.StructType):
        return {f.name: _proto3_default(f.dataType) for f in dt.fields}
    raise TypeError(f"no proto3 default for {dt.simpleString()}")


def _decode_message(buf: bytes, pos: int, end: int, layout: list[tuple],
                    strict: bool) -> dict:
    by_num = {num: (name, dt) for name, num, dt in layout}
    out: dict = {name: None for name, _, _ in layout}
    while pos < end:
        key, pos = _read_varint(buf, pos)
        number, wire = key >> 3, key & 7
        if number not in by_num:
            if strict:
                raise ValueError(f"unknown field number {number}")
            pos = _skip(buf, pos, wire)
            continue
        name, dt = by_num[number]
        if isinstance(dt, T.ArrayType):
            et = dt.elementType
            dec = _scalar_decoder(et)
            lst = out[name] or []
            if wire == _LEN and _wire_type(et) in (_VARINT, _I32, _I64):
                ln, pos = _read_varint(buf, pos)
                stop = pos + ln
                while pos < stop:
                    v, pos2 = _payload_span(buf, pos, _wire_type(et))
                    lst.append(dec(buf, v[0], v[1]))
                    pos = pos2
                if pos != stop:
                    raise ValueError("packed field overruns its length")
            elif wire == _LEN:
                ln, pos = _read_varint(buf, pos)
                lst.append(dec(buf, pos, pos + ln))
                pos += ln
            else:
                v, pos = _payload_span(buf, pos, wire)
                lst.append(dec(buf, v[0], v[1]))
            out[name] = lst
            continue
        if isinstance(dt, T.MapType):
            if wire != _LEN:
                raise ValueError(f"map field {name} with wire type {wire}")
            ln, pos = _read_varint(buf, pos)
            entry_layout = [("key", 1, dt.keyType), ("value", 2, dt.valueType)]
            entry = _decode_message(buf, pos, pos + ln, entry_layout, strict)
            pos += ln
            d = out[name] or {}
            # proto3: a conformant encoder omits default-valued entry
            # fields, and the decoder must substitute the type's default
            # ('' / 0 / false), not None
            k = entry["key"]
            v = entry["value"]
            d[_proto3_default(dt.keyType) if k is None else k] = (
                _proto3_default(dt.valueType) if v is None else v
            )
            out[name] = d
            continue
        expect = _wire_type(dt)
        if wire != expect:
            raise ValueError(
                f"field {name}: wire type {wire}, expected {expect}")
        span, pos = _payload_span(buf, pos, wire)
        out[name] = _scalar_decoder(dt)(buf, span[0], span[1])
    if pos != end:
        raise ValueError("message overruns its length")
    return out


def _payload_span(buf: bytes, pos: int, wire: int) -> tuple[tuple[int, int], int]:
    """[start, end) of one payload of the given wire type, + new pos."""
    if wire == _VARINT:
        _, newpos = _read_varint(buf, pos)
        return (pos, newpos), newpos
    if wire == _I32:
        return (pos, pos + 4), pos + 4
    if wire == _I64:
        return (pos, pos + 8), pos + 8
    if wire == _LEN:
        ln, p = _read_varint(buf, pos)
        if p + ln > len(buf):
            raise ValueError("LEN payload overruns the buffer")
        return (p, p + ln), p + ln
    raise ValueError(f"unsupported wire type {wire}")


def _skip(buf: bytes, pos: int, wire: int) -> int:
    return _payload_span(buf, pos, wire)[1]


# ------------------------------------------------------------------ events

def _event_struct(table_schema: T.StructType) -> T.StructType:
    fields = [T.StructField("op", T.StringType(), False),
              T.StructField("lsn", T.LongType(), False)]
    fields += [T.StructField(f.name, f.dataType, True) for f in table_schema.fields]
    return T.StructType(fields)


def stage_proto_dump(changes_df: DataFrame, path: str) -> None:
    """Encode a (op, lsn, <row>) change frame as a landed topic dump of
    proto3 CdcEvent payloads. Distributed (mapInPandas)."""
    row_schema = T.StructType(
        [f for f in changes_df.schema.fields if f.name not in ("op", "lsn")]
    )
    layout = _field_layout(_event_struct(row_schema))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for rec in pdf.to_dict("records"):
                out = io.BytesIO()
                _encode_fields(out, layout, rec)
                payloads.append(out.getvalue())
            yield pd.DataFrame({"value": payloads})

    cols = ["op", "lsn"] + [f.name for f in changes_df.schema.fields
                            if f.name not in ("op", "lsn")]
    (changes_df.select(*cols)
     .mapInPandas(encode, "value binary")
     .write.mode("overwrite").parquet(path))


def read_proto_cdc(
    spark: SparkSession,
    path: str,
    table_schema: T.StructType,
    strict: bool = True,
    value_col: str = "value",
) -> DataFrame:
    """Parse a landed proto event dump under *path* into the typed
    (op, lsn, <row>) change DataFrame `merge_into` consumes. *strict*
    (default) fails the job on malformed payloads, unknown fields, wire-
    type mismatches, or unknown ops."""
    raw = spark.read.parquet(path)
    return _decode(raw, table_schema, strict, value_col)


def stream_proto_cdc(
    spark: SparkSession,
    path: str,
    table_schema: T.StructType,
    max_files_per_trigger: int | None = None,
    strict: bool = True,
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of read_proto_cdc."""
    reader = spark.readStream.schema(f"{value_col} binary")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _decode(reader.parquet(path), table_schema, strict, value_col)


def _decode(raw: DataFrame, table_schema: T.StructType, strict: bool,
            value_col: str) -> DataFrame:
    event = _event_struct(table_schema)
    layout = _field_layout(event)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[value_col]:
                try:
                    buf = bytes(payload)
                    row = _decode_message(buf, 0, len(buf), layout, strict)
                    if row["op"] not in _OPS:
                        raise ValueError(f"unknown op {row['op']!r}")
                    if row["lsn"] is None:
                        raise ValueError("missing lsn")
                except Exception as e:
                    if strict:
                        raise ValueError(
                            f"malformed proto CDC event ({len(payload)}B): {e}"
                        ) from e
                    continue
                rows.append(row)
            yield pd.DataFrame(rows, columns=[n for n, _, _ in layout])

    return raw.mapInPandas(decode, event)
