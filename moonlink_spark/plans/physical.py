"""One distributed parquet writer with two ways to pick a batch's output
file, and the per-bin resume record.

- The writer core is a ``mapInArrow`` stage: each task streams its Arrow
  record batches straight into pyarrow ParquetWriters (C++), accumulating
  per-column min/max/null_count (and an integer ``sum``) with
  ``pyarrow.compute`` in the same pass — the analog of moonlink computing
  Iceberg Datum stats from parquet footers (reference:
  parquet_stats_utils.rs:34-120) without a second read. Binary payloads stay
  in Arrow buffers from the shuffle fetch to the parquet encoder. The task
  also keeps each file's key column and, on close, writes the file's
  key-index sidecar (``catalog/key_index.py``) before the data file is
  renamed into place, so no data file exists without one.
- ``write_datafiles`` picks the file from an explicit integer ``_bin``
  assigned by the *planner* (bin-packing for compaction, zkey range for
  clustering); ``repartition(num_bins, "_bin")`` sends each bin to
  exactly one reduce task, so the file name ``{run_id}-b{bin:05d}`` derives
  from the bin id and a killed run resumes at bin granularity.
  ``write_datafiles_rolling`` rolls each input partition over to a new
  ``{run_id}-p{partition:05d}-{seq:04d}`` file every ``rows_per_file``
  rows, so bulk ingest reads its input once. The merge
  (``operators/merge.py``) names its files the same way, but streams its
  own query's partitions into ``_OpenFile`` directly, because its task also
  reports the change batch's keys.
- With a ``lineage_dir`` each bin file is recorded as ``bin-NNNNN.json``;
  a re-run under the same run_id skips the bins ``read_bin_record`` can
  reuse (reference intent: WAL replay, wal.rs:1117-1334). A record whose
  file or sidecar is gone (an orphan sweep removed a killed run's
  uncommitted output) is not reusable, so that bin is written again. This
  per-bin skip is the engine's only way to reuse a bin: a rewrite resumes
  only while its plan's victims and delete files are unchanged
  (``operators/rewrite.py``), so its rows, and so its bins, are the same.

On a real cluster ``data_dir`` is a shared filesystem / object store mount;
tasks write directly to it exactly as moonlink's iceberg syncer uploads data
files with concurrency 128 (iceberg_table_syncer.rs:48-52) — here the
concurrency is simply Spark's task parallelism.
"""

from __future__ import annotations

import json
import math
import os
import sys
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from moonlink_spark.catalog.metadata import DataFile

LINEAGE_SCHEMA = (
    "bin int, file_path string, record_count long, file_size_bytes long, stats string, "
    "key_index string"
)

_STATLESS_TYPES = {"binary"}  # no min/max for opaque payload columns


def _json_safe(v):
    if v is None:
        return None
    if isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        return None
    try:
        import numpy as np

        if isinstance(v, (np.integer,)):
            return int(v)
        if isinstance(v, (np.floating,)):
            return float(v)
        if isinstance(v, (np.bool_,)):
            return bool(v)
    except Exception:
        pass
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _datafile(rec) -> DataFile:
    """A lineage record (dict or Row with LINEAGE_SCHEMA's fields) as a DataFile."""
    return DataFile(
        file_path=rec["file_path"],
        record_count=int(rec["record_count"]),
        file_size_bytes=int(rec["file_size_bytes"]),
        stats=json.loads(rec["stats"]),
        key_index=rec["key_index"],
    )


def _record(b: int, f: DataFile) -> dict:
    """*f* as the lineage record of bin *b* (LINEAGE_SCHEMA's fields)."""
    return {
        "bin": b,
        "file_path": f.file_path,
        "record_count": f.record_count,
        "file_size_bytes": f.file_size_bytes,
        "stats": json.dumps(f.stats),
        "key_index": f.key_index,
    }


def _bin_record_path(lineage_dir: str, b: int, seq: int | None = None) -> str:
    name = f"bin-{b:05d}" if seq is None else f"bin-{b:05d}-{seq:04d}"
    return os.path.join(lineage_dir, name + ".json")


def read_bin_record(lineage_dir: str, b: int) -> DataFile | None:
    """The file a previous attempt recorded for bin *b* under *lineage_dir*,
    or None when there is no record or the recorded file or its key-index
    sidecar no longer exists (the bin must then be written again)."""
    try:
        with open(_bin_record_path(lineage_dir, b)) as f:
            rec = json.load(f)
    except FileNotFoundError:
        return None
    if not (os.path.exists(rec["file_path"]) and os.path.exists(rec["key_index"])):
        return None
    return _datafile(rec)


class _OpenFile:
    """One parquet file a write task is streaming: rows go to
    ``<path><tmp_suffix>`` and the per-column stats accumulate as they pass.
    With a *key* column it is a data file: the key values are kept too, and
    close() writes them as the file's key-index sidecar. A *seq* tells the
    lineage records of one partition's rolled-over files apart."""

    def __init__(
        self, path: str, b: int, tmp_suffix: str, schema, codec, level, statless,
        key: str | None = None, seq: int | None = None,
    ):
        import pyarrow.parquet as pq

        self.path = path
        self.bin = b
        self.seq = seq
        self.tmp = path + tmp_suffix
        self.tmp_suffix = tmp_suffix
        self.statless = statless
        self.key = key
        self.keys: list = []
        self.count = 0
        self.stats: dict[str, dict] = {}
        self.writer = pq.ParquetWriter(
            self.tmp, schema, compression=codec, compression_level=level
        )

    def write(self, rb) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        self.writer.write_batch(rb)
        self.count += len(rb)
        if self.key is not None:
            self.keys.append(rb.column(self.key))
        for name, col in zip(rb.schema.names, rb.columns):
            st = self.stats.setdefault(name, {"min": None, "max": None, "null_count": 0})
            st["null_count"] += col.null_count
            if name in self.statless or col.null_count == len(col) or len(col) == 0:
                continue
            if pa.types.is_integer(col.type):
                s = pc.sum(col).as_py()
                if s is not None:
                    st["sum"] = int(st.get("sum") or 0) + int(s)
            try:
                mm = pc.min_max(col)
            except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
                continue
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is not None and (st["min"] is None or mn < st["min"]):
                st["min"] = mn
            if mx is not None and (st["max"] is None or mx > st["max"]):
                st["max"] = mx

    def close(self, lineage_dir: str | None) -> dict:
        """Finish the file and its key-index sidecar, rename them into place
        and return its lineage record (also written atomically under
        *lineage_dir* when given)."""
        import pyarrow as pa

        from moonlink_spark.catalog.key_index import key_index_path, write_key_index

        self.writer.close()
        index = None
        if self.key is not None:
            index = key_index_path(self.path, os.path.dirname(self.path))
            write_key_index(pa.chunked_array(self.keys), index, self.tmp_suffix)
        os.rename(self.tmp, self.path)
        clean = {
            c: {
                "min": _json_safe(s["min"]),
                "max": _json_safe(s["max"]),
                "null_count": s["null_count"],
                **({"sum": int(s["sum"])} if s.get("sum") is not None else {}),
            }
            for c, s in self.stats.items()
        }
        rec = _record(
            self.bin,
            DataFile(
                file_path=self.path,
                record_count=self.count,
                file_size_bytes=os.path.getsize(self.path),
                stats=clean,
                key_index=index,
            ),
        )
        if lineage_dir is not None:
            lp = _bin_record_path(lineage_dir, self.bin, self.seq)
            with open(lp + ".tmp", "w") as f:
                json.dump(rec, f)
            os.rename(lp + ".tmp", lp)
        return rec


def file_format(fields, compression: str, compression_level: int | None):
    """(arrow schema, stat-less columns, codec, level) of a data file holding
    the Spark *fields*, as _OpenFile takes them.

    Per-column codecs: opaque binary payloads (images) are already
    compressed/high-entropy — zstd-4 on them burns the write stage's CPU for
    ~zero ratio. Binary columns get snappy (near-free, bails fast on
    incompressible data); the requested codec applies to everything else."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    statless = {f.name for f in fields if f.dataType.typeName() in _STATLESS_TYPES}
    arrow_schema = to_arrow_schema(T.StructType(list(fields)))
    if compression not in (None, "none", "snappy"):
        codec = {f.name: ("snappy" if f.name in statless else compression) for f in fields}
        level = (
            {f.name: compression_level for f in fields if f.name not in statless}
            if compression_level is not None
            else None
        )
    else:
        codec, level = compression, compression_level
    return arrow_schema, statless, codec, level


def _write(
    df: DataFrame,
    *,
    data_dir: str,
    run_id: str,
    key: str,
    compression: str,
    compression_level: int | None,
    rows_per_file: int | None = None,
    lineage_dir: str | None = None,
) -> list[DataFile]:
    """The writer core. With *rows_per_file* None, *df* is partitioned by its
    int ``_bin`` column and every bin becomes one file; otherwise every
    partition rolls over to a new file each *rows_per_file* rows. Every file
    gets a key-index sidecar over the *key* column."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    # internal planner columns (underscore-prefixed: _bin, _zkey, ...) are
    # shuffle/sort keys only — never written to the output files
    payload_fields = [f for f in df.schema.fields if not f.name.startswith("_")]
    arrow_schema, statless, codec, level = file_format(
        payload_fields, compression, compression_level
    )
    out_schema = to_arrow_schema(T.DataType.fromDDL(LINEAGE_SCHEMA))
    payload_cols = [f.name for f in payload_fields]
    if key not in payload_cols:
        raise ValueError(f"key column {key!r} is not among the written columns {payload_cols}")
    binned = rows_per_file is None
    limit = sys.maxsize if binned else rows_per_file  # a bin never rolls over

    def _task(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        # attempt-scoped temp suffix: a speculative/zombie attempt of the
        # same task writes the same FINAL names, so each attempt streams into
        # its own temp file and only the atomic rename races (last complete
        # file wins; a shared temp would interleave two writers into one
        # corrupt parquet)
        tmp_suffix = f".inprogress.{ctx.taskAttemptId()}"
        files: dict[int, _OpenFile] = {}
        skipped: set[int] = set()
        done: list[dict] = []
        seq = 0

        def _pieces(batch, payload):
            """(bin, rows) pairs of one input batch: the planner's bins, or
            the whole batch under the partition id when rolling."""
            if not binned:
                yield ctx.partitionId(), payload
                return
            binvals = batch.column(batch.schema.get_field_index("_bin")).to_numpy(
                zero_copy_only=False
            )
            uniq = np.unique(binvals)
            if len(uniq) == 1:
                yield int(uniq[0]), payload
            else:
                for b in uniq:
                    yield int(b), payload.filter(pa.array(binvals == b))

        def _open(b: int) -> _OpenFile:
            nonlocal seq
            if binned:
                name = f"{run_id}-b{b:05d}.parquet"
            else:
                name = f"{run_id}-p{b:05d}-{seq:04d}.parquet"
                seq += 1
            return _OpenFile(
                os.path.join(data_dir, name), b, tmp_suffix, arrow_schema, codec, level, statless,
                key,
            )

        for batch in batches:
            if len(batch) == 0:
                continue
            payload = batch.select(payload_cols)
            if payload.schema != arrow_schema:
                payload = payload.cast(arrow_schema)
            for b, rows in _pieces(batch, payload):
                while len(rows) and b not in skipped:
                    f = files.get(b)
                    if f is None:
                        prior = read_bin_record(lineage_dir, b) if lineage_dir else None
                        if prior is not None:
                            skipped.add(b)
                            done.append(_record(b, prior))
                            break
                        f = files[b] = _open(b)
                    take = min(len(rows), limit - f.count)
                    f.write(rows if take == len(rows) else rows.slice(0, take))
                    rows = rows.slice(take)
                    if f.count >= limit:
                        done.append(files.pop(b).close(lineage_dir))
        done.extend(f.close(lineage_dir) for f in files.values())
        if done:
            yield pa.RecordBatch.from_pylist(done, schema=out_schema)

    rows = df.mapInArrow(_task, schema=LINEAGE_SCHEMA).collect()
    return sorted((_datafile(r) for r in rows), key=lambda d: d.file_path)


def write_datafiles(
    df: DataFrame,
    *,
    data_dir: str,
    run_id: str,
    key: str,
    num_bins: int,
    compression: str = "snappy",
    compression_level: int | None = None,
    sort_within: list[str] | None = None,
    lineage_dir: str | None = None,
) -> list[DataFile]:
    """Write *df* (which must carry an int ``_bin`` column) as one parquet
    file per bin under *data_dir*, each with its key-index sidecar over the
    table's *key* column; return DataFile entries with stats.

    Skips bins whose record under *lineage_dir* still names an existing file
    and sidecar (idempotent resume); any other bin is written again."""
    if lineage_dir:
        os.makedirs(lineage_dir, exist_ok=True)
    part = df.repartition(max(num_bins, 1), "_bin")
    if sort_within:
        part = part.sortWithinPartitions("_bin", *sort_within)
    return _write(
        part,
        data_dir=data_dir,
        run_id=run_id,
        key=key,
        compression=compression,
        compression_level=compression_level,
        lineage_dir=lineage_dir,
    )


def write_datafiles_rolling(
    df: DataFrame,
    *,
    data_dir: str,
    run_id: str,
    key: str,
    rows_per_file: int,
    compression: str = "snappy",
    compression_level: int | None = None,
) -> list[DataFile]:
    """SINGLE-PASS ingest writer: no planner bins, no pre-count — each input
    partition streams its Arrow batches into parquet files that ROLL OVER at
    *rows_per_file* (the mem-slice flush threshold, mooncake_table_config.rs
    :159). Used by append so bulk ingest reads its input exactly once
    (the bin-count path needs a df.count() first — the upstream, e.g. a
    generator or a join, would execute twice).

    File names are {run_id}-p{partition}-{seq}, each with its key-index
    sidecar over the table's *key* column; Spark's task-retry semantics
    keep this safe (a re-executed task rewrites the same names via
    .inprogress + rename).
    """
    return _write(
        df,
        data_dir=data_dir,
        run_id=run_id,
        key=key,
        compression=compression,
        compression_level=compression_level,
        rows_per_file=rows_per_file,
    )


def num_bins_for(total_bytes: int, target_bytes: int) -> int:
    """How many output files for *total_bytes* of live data at *target_bytes*
    per file (bin-packing bin count)."""
    return max(1, math.ceil(total_bytes / max(target_bytes, 1)))


def hash_bin(col_name: str, num_bins: int):
    """Deterministic, skew-free bin assignment by hash (used for the Iceberg
    export's files)."""
    return F.pmod(F.xxhash64(F.col(col_name)), F.lit(num_bins)).cast("int")
