"""Puffin file writer/reader for Iceberg v3 deletion-vector blobs.

Implements, from the PUBLIC specs only:

  - the Puffin file format (https://iceberg.apache.org/puffin-spec/):
    `PFA1 | blobs... | PFA1 footer-payload payload-size(4 LE) flags(4) PFA1`
    with an uncompressed JSON FileMetadata footer;
  - the `deletion-vector-v1` blob type (Iceberg spec, format v3):
    `len(4 BE) | magic D1 D3 39 64 | roaring64-portable vector | crc32(4 BE)`
    where the CRC-32 covers magic + vector (the reference engine computes
    the same framing in storage/table/iceberg/deletion_vector.rs:83-145;
    its blob properties contract — `referenced-data-file`, `cardinality` —
    is deletion_vector.rs:21-24);
  - the 64-bit Roaring portable format
    (https://github.com/RoaringBitmap/RoaringFormatSpec — "extension for
    64-bit implementations"): u64-LE bucket count, then per bucket a u32-LE
    high key followed by a standard 32-bit roaring bitmap (array containers
    ≤4096 values, bitmap containers above, run containers whenever the run
    form is strictly smaller — the same rule as the Java library's
    runOptimize(), so dense DVs serialize byte-identically to Java's).

All bitmap packing/unpacking is numpy-vectorized — no per-position Python
loops — so the export's driver-side conversion of a multi-million-position
DV stays fast.
Cross-validated in tests against the RoaringBitmap JAVA reference library
(org.roaringbitmap on Spark's classpath) via Roaring64NavigableMap's
portable deserialization.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np

PUFFIN_MAGIC = b"PFA1"
DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])
DELETION_VECTOR_V1 = "deletion-vector-v1"

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
_ARRAY_MAX = 4096


# --------------------------------------------------------------- roaring
_NO_OFFSET_THRESHOLD = 4  # run-cookie streams under 4 containers omit offsets


def _rle_runs(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """RLE of sorted unique low-16 values → (starts, lengths-1), both u32."""
    if len(vals) == 0:
        return np.empty(0, np.uint32), np.empty(0, np.uint32)
    brk = np.nonzero(np.diff(vals) != 1)[0]
    si = np.concatenate(([0], brk + 1))
    ei = np.concatenate((brk, [len(vals) - 1]))
    return vals[si], vals[ei] - vals[si]


def _serialize_roaring32(values: np.ndarray, run_optimize: bool = True) -> bytes:
    """Standard 32-bit roaring serialization of sorted uint32 values.

    With run_optimize (the default) each container is run-encoded exactly
    when the Java reference library's runOptimize() would convert it —
    run form (2 + 4*n_runs bytes) strictly smaller than the array
    (2*card) / bitmap (8192) form — and the stream carries cookie 12347
    with the run bitset; otherwise cookie 12346. Byte-identical to
    RoaringBitmap's serialize() for the same value set either way."""
    hi = (values >> np.uint32(16)).astype(np.uint16)
    lo = (values & np.uint32(0xFFFF)).astype(np.uint16)
    keys, starts, counts = np.unique(hi, return_index=True, return_counts=True)
    size = len(keys)

    container_bytes: list[bytes] = []
    run_flags = bytearray((size + 7) // 8)
    has_run = False
    for i in range(size):
        vals = lo[starts[i] : starts[i] + counts[i]]
        card = int(counts[i])
        if run_optimize:
            rstarts, rlens = _rle_runs(vals.astype(np.uint32))
            run_size = 2 + 4 * len(rstarts)
            plain_size = 2 * card if card <= _ARRAY_MAX else 8192
            if run_size < plain_size:
                has_run = True
                run_flags[i // 8] |= 1 << (i % 8)
                runs = np.empty(len(rstarts) * 2, dtype="<u2")
                runs[0::2] = rstarts
                runs[1::2] = rlens
                container_bytes.append(
                    struct.pack("<H", len(rstarts)) + runs.tobytes()
                )
                continue
        if card <= _ARRAY_MAX:
            container_bytes.append(vals.astype("<u2").tobytes())
        else:
            words = np.zeros(1024, dtype=np.uint64)
            np.bitwise_or.at(
                words,
                (vals.astype(np.uint32) >> np.uint32(6)),
                np.uint64(1) << (vals.astype(np.uint64) & np.uint64(63)),
            )
            container_bytes.append(words.astype("<u8").tobytes())

    parts: list[bytes] = []
    if has_run:
        parts.append(struct.pack("<I", ((size - 1) << 16) | _SERIAL_COOKIE_RUN))
        parts.append(bytes(run_flags))
        base = 4 + len(run_flags) + 4 * size
    else:
        parts.append(struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, size))
        base = 8 + 4 * size
    desc = np.empty(size * 2, dtype="<u2")
    desc[0::2] = keys
    desc[1::2] = (counts - 1).astype("<u2")
    parts.append(desc.tobytes())
    if not has_run or size >= _NO_OFFSET_THRESHOLD:
        # offset header: byte offset of each container from the stream start
        base += 4 * size
        offsets = np.empty(size, dtype="<u4")
        acc = base
        for i in range(size):
            offsets[i] = acc
            acc += len(container_bytes[i])
        parts.append(offsets.tobytes())
    parts.extend(container_bytes)
    return b"".join(parts)


def _deserialize_roaring32(buf: memoryview, pos: int) -> tuple[np.ndarray, int]:
    """Inverse of _serialize_roaring32; also accepts run-container-free
    streams written by other implementations. Returns (values, new_pos)."""
    (cookie,) = struct.unpack_from("<i", buf, pos)
    short_cookie = cookie & 0xFFFF
    run_flags = b""
    if short_cookie == _SERIAL_COOKIE_RUN:
        # run-container stream (written by e.g. Java's runOptimize()): a
        # bitset marks which containers are run-encoded
        size = (cookie >> 16) + 1
        run_flag_len = (size + 7) // 8
        run_flags = bytes(buf[pos + 4 : pos + 4 + run_flag_len])
        hdr = pos + 4 + run_flag_len
        has_offsets = size >= 4  # NO_OFFSET_THRESHOLD per the format spec
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<i", buf, pos + 4)
        hdr = pos + 8
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")

    desc = np.frombuffer(buf, dtype="<u2", count=size * 2, offset=hdr)
    keys = desc[0::2].astype(np.uint32)
    cards = desc[1::2].astype(np.int64) + 1
    p = hdr + 4 * size
    if has_offsets:
        p += 4 * size  # trust sequential layout; offsets are redundant here
    out = []
    for i in range(size):
        is_run = bool(run_flags) and bool(run_flags[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, p)
            p += 2
            runs = np.frombuffer(buf, dtype="<u2", count=n_runs * 2, offset=p)
            p += 4 * n_runs
            starts = runs[0::2].astype(np.uint32)
            lengths = runs[1::2].astype(np.uint32)  # stored as (length - 1)
            lows = np.concatenate(
                [
                    np.arange(s, s + ln + 1, dtype=np.uint32)
                    for s, ln in zip(starts, lengths)
                ]
            ) if n_runs else np.empty(0, dtype=np.uint32)
        elif cards[i] <= _ARRAY_MAX:
            vals = np.frombuffer(buf, dtype="<u2", count=int(cards[i]), offset=p)
            p += 2 * int(cards[i])
            lows = vals.astype(np.uint32)
        else:
            words = np.frombuffer(buf, dtype="<u8", count=1024, offset=p)
            p += 8192
            bits = np.unpackbits(
                words.view(np.uint8), bitorder="little"
            )
            lows = np.nonzero(bits)[0].astype(np.uint32)
        out.append((keys[i].astype(np.uint32) << np.uint32(16)) | lows)
    vals = np.concatenate(out) if out else np.empty(0, dtype=np.uint32)
    return vals, p


def serialize_roaring64(positions, run_optimize: bool = True) -> bytes:
    """Portable 64-bit roaring bytes for a set of u64 positions."""
    pos = np.unique(np.asarray(positions, dtype=np.uint64))
    high = (pos >> np.uint64(32)).astype(np.uint32)
    keys, starts, counts = np.unique(high, return_index=True, return_counts=True)
    parts = [struct.pack("<Q", len(keys))]
    for i in range(len(keys)):
        sub = (pos[starts[i] : starts[i] + counts[i]] & np.uint64(0xFFFFFFFF)).astype(
            np.uint32
        )
        parts.append(struct.pack("<I", int(keys[i])))
        parts.append(_serialize_roaring32(sub, run_optimize=run_optimize))
    return b"".join(parts)


def deserialize_roaring64(data: bytes) -> np.ndarray:
    """Inverse of serialize_roaring64 → sorted uint64 positions."""
    buf = memoryview(data)
    (n_buckets,) = struct.unpack_from("<Q", buf, 0)
    p = 8
    out = []
    for _ in range(n_buckets):
        (key,) = struct.unpack_from("<I", buf, p)
        p += 4
        lows, p = _deserialize_roaring32(buf, p)
        out.append((np.uint64(key) << np.uint64(32)) | lows.astype(np.uint64))
    return np.concatenate(out) if out else np.empty(0, dtype=np.uint64)


# ------------------------------------------------------------- dv framing
def dv_blob_bytes(positions) -> bytes:
    """Frame a position set as a deletion-vector-v1 blob:
    len(4 BE) + magic + roaring64 vector + CRC-32(magic+vector) (4 BE)."""
    vector = serialize_roaring64(positions)
    body = DV_MAGIC + vector
    crc = zlib.crc32(body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + body + struct.pack(">I", crc)


def dv_blob_positions(blob: bytes) -> np.ndarray:
    """Decode + integrity-check a deletion-vector-v1 blob."""
    if len(blob) < 12:
        raise ValueError("deletion-vector blob shorter than 12 bytes")
    (combined,) = struct.unpack_from(">I", blob, 0)
    if 4 + combined + 4 != len(blob):
        raise ValueError(
            f"deletion-vector blob length mismatch: header says "
            f"{4 + combined + 4}, got {len(blob)}"
        )
    if blob[4:8] != DV_MAGIC:
        raise ValueError("bad deletion-vector magic")
    body = blob[4 : 4 + combined]
    (stored_crc,) = struct.unpack_from(">I", blob, 4 + combined)
    if zlib.crc32(body) & 0xFFFFFFFF != stored_crc:
        raise ValueError("deletion-vector CRC mismatch")
    return deserialize_roaring64(blob[8 : 4 + combined])


# ------------------------------------------------------------ puffin file
def write_puffin(path: str, blobs: list[dict], properties: dict | None = None) -> dict:
    """Write a Puffin file. Each blob dict: {"data": bytes, "type": str,
    "snapshot-id": int, "sequence-number": int, "properties": {...}}.
    Returns {"file_size": int, "blobs": [blob metadata w/ offset+length]}.
    Written via a temp name + atomic rename (crash-safe like every other
    writer in this engine)."""
    metas = []
    tmp = path + ".inprogress"
    with open(tmp, "wb") as f:
        f.write(PUFFIN_MAGIC)
        offset = 4
        for b in blobs:
            data = b["data"]
            f.write(data)
            metas.append(
                {
                    "type": b["type"],
                    "fields": b.get("fields", []),
                    "snapshot-id": b.get("snapshot-id", -1),
                    "sequence-number": b.get("sequence-number", -1),
                    "offset": offset,
                    "length": len(data),
                    "properties": b.get("properties", {}),
                }
            )
            offset += len(data)
        payload = json.dumps(
            {"blobs": metas, "properties": properties or {}},
            separators=(",", ":"),
        ).encode()
        f.write(PUFFIN_MAGIC)
        f.write(payload)
        f.write(struct.pack("<I", len(payload)))
        f.write(b"\x00\x00\x00\x00")  # flags: footer payload uncompressed
        f.write(PUFFIN_MAGIC)
    os.rename(tmp, path)
    return {"file_size": os.path.getsize(path), "blobs": metas}


def _lz4_frame_decompress(comp: bytes) -> bytes:
    """Decompress an LZ4 FRAME stream (the codec the Puffin spec fixes for
    compressed footers) using pyarrow's bundled lz4.

    pyarrow's Codec API demands the exact decompressed size up front, which
    an external footer doesn't advertise; decompression succeeds (padded)
    for any size >= the true length and fails for any smaller, so the
    minimal successful size — found by doubling then binary search — IS the
    exact payload length. A footer is a few KB; the ~30 probe calls are
    nothing."""
    import pyarrow as pa

    codec = pa.Codec("lz4")
    lo, hi = 1, max(4 * len(comp), 4096)
    while True:
        try:
            codec.decompress(comp, hi)
            break
        except (OSError, pa.lib.ArrowException):
            lo = hi + 1
            hi *= 4
            if hi > 1 << 31:
                raise ValueError("lz4 puffin footer implausibly large")
    while lo < hi:
        mid = (lo + hi) // 2
        try:
            codec.decompress(comp, mid)
            hi = mid
        except (OSError, pa.lib.ArrowException):
            lo = mid + 1
    return bytes(codec.decompress(comp, lo))


def read_puffin_footer(path: str) -> dict:
    """Parse the FileMetadata JSON from a Puffin file's footer. Handles
    both uncompressed and LZ4-frame-compressed footer payloads (flag bit 0
    of the footer Flags word, per the Puffin spec) — external writers like
    Iceberg's PuffinWriter may compress."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(size - 12)
        tail = f.read(12)
        if tail[8:] != PUFFIN_MAGIC:
            raise ValueError(f"{path}: bad puffin trailing magic")
        (payload_len,) = struct.unpack_from("<I", tail, 0)
        flags = tail[4:8]
        f.seek(size - 12 - payload_len - 4)
        head = f.read(4)
        payload = f.read(payload_len)
        if head != PUFFIN_MAGIC:
            raise ValueError(f"{path}: bad puffin footer magic")
        f.seek(0)
        if f.read(4) != PUFFIN_MAGIC:
            raise ValueError(f"{path}: bad puffin header magic")
    if flags[0] & 0x01:
        payload = _lz4_frame_decompress(payload)
    return json.loads(payload.decode())


def read_puffin_blob(path: str, offset: int, length: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(offset)
        return f.read(length)
