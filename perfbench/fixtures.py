"""Seeded fixture generation for the benchmark: the images table and CDC
batches, produced with NumPy only and staged as parquet before any timed
phase.

The benchmark owns its inputs, so it does not call the engine's fixture
module. Payloads are random bytes sized like the encoded 16-64 px images of
FIXTURES.md F1: merge, compaction and clustering never decode them, so
real codecs would only slow set-up down. `phash` keeps the F1 hot-prefix
skew (20 % of rows on three high-bit prefixes), the input property the
salted range partitioner exists for.

CDC batches follow FIXTURES.md F2 (~70 % I, ~20 % U, ~10 % D plus the
adversarial cases) but, unlike the engine's own generator, they pick U and D
targets from the keys that are live when the batch is generated, so every
batch matches existing rows. The generator keeps that live set and reports,
per batch, how many keys the merge must match and how many rows it must
insert; the workloads check both after each merge.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IMAGE_FIELDS = [
    pa.field("image_id", pa.string(), nullable=False),
    pa.field("bytes", pa.binary()),
    pa.field("w", pa.int32()),
    pa.field("h", pa.int32()),
    pa.field("fmt", pa.string()),
    pa.field("caption", pa.string()),
    pa.field("phash", pa.int64()),
]
IMAGES_ARROW = pa.schema(IMAGE_FIELDS)
CHANGES_ARROW = pa.schema(
    [pa.field("op", pa.string(), nullable=False), pa.field("lsn", pa.int64(), nullable=False)]
    + IMAGE_FIELDS
)
IMAGES_DDL = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash bigint"
CHANGES_DDL = "op string, lsn bigint, " + IMAGES_DDL

_ADJ = np.array(["quiet", "amber", "braided", "hollow", "gilded", "mossy", "late", "northern"])
_NOUN = np.array(["harbor", "orchard", "lantern", "ridge", "meadow", "vault", "causeway", "atlas"])
_HOT_PREFIXES = np.array([0x7A10, 0x7A11, 0x3C00], dtype=np.int64)
_HOT_FRACTION = 0.20
_PAYLOAD_BYTES = (1024, 6144)
_LOW48 = (1 << 48) - 1

# every batch gets its own lsn window; inside it the adversarial rows sit at
# offsets above the plain rows, so no key ever has two rows at one lsn
LSN_STRIDE = 1_000_000


def image_id(seed: int, seq: int) -> str:
    return f"img-{seed}-{seq:012d}"


def image_rows(seed: int, seqs: np.ndarray, version: int) -> dict[str, list]:
    """Column lists for rows *seqs* at *version*, a pure function of
    (seed, version, seqs)."""
    n = len(seqs)
    rng = np.random.default_rng([seed, version, int(seqs[0]) if n else 0, n])
    lens = rng.integers(_PAYLOAD_BYTES[0], _PAYLOAD_BYTES[1] + 1, n)
    blob = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8).tobytes()
    ends = np.cumsum(lens)
    starts = ends - lens
    ph = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, dtype=np.int64)
    hot = rng.random(n) < _HOT_FRACTION
    prefix = _HOT_PREFIXES[rng.integers(0, len(_HOT_PREFIXES), n)]
    ph = np.where(hot, (prefix << 48) | (ph & _LOW48), ph)
    adj = _ADJ[rng.integers(0, len(_ADJ), n)]
    noun = _NOUN[rng.integers(0, len(_NOUN), n)]
    return {
        "image_id": [image_id(seed, int(s)) for s in seqs],
        "bytes": [blob[a:b] for a, b in zip(starts, ends)],
        "w": rng.integers(16, 65, n).astype(np.int32).tolist(),
        "h": rng.integers(16, 65, n).astype(np.int32).tolist(),
        "fmt": np.where(rng.random(n) < 0.5, "jpeg", "png").tolist(),
        "caption": [f"{a} {b} scene {int(s):012d} v{version}" for a, b, s in zip(adj, noun, seqs)],
        "phash": ph.tolist(),
    }


def small_file_sizes(n_rows: int, n_files: int, rng: np.random.Generator, small: tuple[int, int]) -> list[int]:
    """Row counts of *n_files* base files: 80 % small files of *small* rows,
    the rest share the remaining rows. The file count is fixed, so
    threshold-triggered compaction does the same work under every seed."""
    n_small = int(n_files * 0.8)
    sizes = rng.integers(small[0], small[1] + 1, n_small).tolist()
    rest, n_big = n_rows - sum(sizes), n_files - n_small
    if rest < n_big:
        raise ValueError(f"{n_rows} rows cannot fill {n_files} files of which {n_small} hold {sum(sizes)}")
    big = [rest // n_big + (1 if i < rest % n_big else 0) for i in range(n_big)]
    order = rng.permutation(n_files)
    return [(sizes + big)[i] for i in order]


def stage_base(seed: int, n_rows: int, n_files: int, out_dir: str, small: tuple[int, int]) -> list[str]:
    """Write the base table rows (keys 0..n_rows-1) as *n_files* parquet
    files; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rows = pa.table(image_rows(seed, np.arange(n_rows), version=0), schema=IMAGES_ARROW)
    rng = np.random.default_rng([seed, 31])
    paths = []
    off = 0
    for i, sz in enumerate(small_file_sizes(n_rows, n_files, rng, small)):
        p = os.path.join(out_dir, f"base-{i:05d}.parquet")
        pq.write_table(rows.slice(off, sz), p, compression="snappy")
        paths.append(p)
        off += sz
    return paths


def stage_rows(seed: int, seqs: np.ndarray, version: int, path: str) -> str:
    """Write fresh image rows (for append) as one parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(image_rows(seed, seqs, version), schema=IMAGES_ARROW), path)
    return path


@dataclass
class Batch:
    path: str
    events: int
    max_lsn: int
    expect_matched: int  # batch keys that are live in the table before it
    expect_inserted: int  # LWW winners of the batch that are not deletes
    input_bytes: int


@dataclass
class ChangeStream:
    """CDC batches against a table that holds keys 0..n_base-1. Tracks the
    live key set, so U and D always target rows that exist."""

    seed: int
    n_base: int
    out_dir: str
    live: set[int] = field(default_factory=set)
    next_seq: int = 0
    batches: int = 0

    def __post_init__(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        self.live = set(range(self.n_base))
        self.next_seq = self.n_base

    def next_batch(self, n_events: int) -> Batch:
        b = self.batches
        self.batches += 1
        rng = np.random.default_rng([self.seed, 7, b])
        lsn0 = (b + 1) * LSN_STRIDE
        live_arr = np.sort(np.fromiter(self.live, dtype=np.int64, count=len(self.live)))
        r = rng.random(n_events)
        n_ins = int((r < 0.70).sum())
        n_upd = int(((r >= 0.70) & (r < 0.90)).sum())
        n_del = n_events - n_ins - n_upd
        # distinct targets: a key appears twice only through the adversarial
        # cases below
        targets = rng.choice(live_arr, size=min(n_upd + n_del, len(live_arr)), replace=False)
        upd, dele = targets[:n_upd], targets[n_upd:]
        new = np.arange(self.next_seq, self.next_seq + n_ins)
        self.next_seq += n_ins

        ops: list[str] = []
        lsns: list[int] = []
        cols: dict[str, list] = {f.name: [] for f in IMAGE_FIELDS}

        def add(op: str, lsn_off: np.ndarray, keys: np.ndarray, version: int | None) -> None:
            ops.extend([op] * len(keys))
            lsns.extend((lsn0 + lsn_off).tolist())
            if version is None:  # deletes carry the key only
                cols["image_id"].extend(image_id(self.seed, int(k)) for k in keys)
                for c in ("bytes", "w", "h", "fmt", "caption", "phash"):
                    cols[c].extend([None] * len(keys))
            else:
                for c, v in image_rows(self.seed, keys, version).items():
                    cols[c].extend(v)

        pos = rng.permutation(n_events)  # plain rows: distinct lsns in [lsn0, lsn0+n)
        n_ud = len(upd) + len(dele)
        v0 = 4 * b
        if n_ins:
            add("I", pos[:n_ins], new, v0 + 1)
        if len(upd):
            add("U", pos[n_ins:n_ins + len(upd)], upd, v0 + 2)
        if len(dele):
            add("D", pos[n_ins + len(upd):n_ins + n_ud], dele, None)
        # FIXTURES.md F2 adversarial cases
        twice = upd[rng.random(len(upd)) < 0.15]  # same key updated twice; higher lsn wins
        if len(twice):
            add("U", n_events + np.arange(len(twice)), twice, v0 + 3)
        reins = dele[rng.random(len(dele)) < 0.10]  # delete, then re-insert at a higher lsn
        if len(reins):
            add("I", 2 * n_events + np.arange(len(reins)), reins, v0 + 4)
        n_ghost = int((rng.random(len(dele)) < 0.05).sum())  # delete of a never-inserted key
        if n_ghost:
            ghosts = 10**11 + b * n_events + np.arange(n_ghost)
            add("D", 3 * n_events + np.arange(n_ghost), ghosts, None)

        path = os.path.join(self.out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(pa.table({"op": ops, "lsn": lsns, **cols}, schema=CHANGES_ARROW), path)

        self.live.difference_update(int(k) for k in dele)
        self.live.update(int(k) for k in reins)
        self.live.update(int(k) for k in new)
        return Batch(
            path=path,
            events=len(ops),
            max_lsn=max(lsns),
            expect_matched=n_ud,
            expect_inserted=n_ins + len(upd) + len(reins),
            input_bytes=os.path.getsize(path),
        )
