"""The key-index sidecar: a parquet file beside every data file that maps
the table key to row positions.

Moonlink resolves the rows a CDC batch replaces through a persisted index
per data file (``GlobalIndex``, persisted_bucket_hash_map.rs:25-54,73-114;
SURVEY.md §1.5). Here that index is a parquet file with two columns, ``key``
(the data file's key column) and ``pos`` (the row's position in the data
file), holding every row of the data file, sorted by key and written in
row groups of ``ROW_GROUP_ROWS`` rows. Each row group's footer min/max is
then a key range. A lookup reads only the row groups whose range holds a
wanted key and keeps the rows whose key is one of them.

The key is stored, so a lookup is exact. The sidecar sorts by the key
itself, not by a hash of it: key order already gives row groups of equal
row count, and no hash function has to agree between the writers and the
driver.

This module owns the format: its name (``key_index_path``), its writer
(``write_key_index``; the writer core calls it for every data file it
writes, and add_files' footer job for every foreign file it registers) and
its reader (``lookup``; the merge's delete positions and the point-read
pruning of ``MoonTable.plan_files``). ``DataFile.key_index`` names a data
file's sidecar in the manifests, so expiry and the orphan sweep treat the
two together.
"""

from __future__ import annotations

import bisect
import hashlib
import os

# rows per sidecar row group: the unit a lookup reads
ROW_GROUP_ROWS = 4096

_SUFFIX = ".keys.parquet"


def key_index_path(data_path: str, index_dir: str) -> str:
    """The sidecar path of the data file *data_path* in *index_dir* (the
    table's data directory): ``<stem>.keys.parquet`` beside a file written
    there, and ``<stem>-<path digest>.keys.parquet`` for a foreign file
    registered from elsewhere, whose base name another directory may
    share."""
    data_path = os.path.abspath(data_path)
    index_dir = os.path.abspath(index_dir)
    name = os.path.basename(data_path)
    stem = name[: -len(".parquet")] if name.endswith(".parquet") else name
    if os.path.dirname(data_path) != index_dir:
        stem += "-" + hashlib.sha1(data_path.encode()).hexdigest()[:12]
    return os.path.join(index_dir, stem + _SUFFIX)


def write_key_index(keys, path: str, tmp_suffix: str) -> None:
    """Write the sidecar of a data file whose key column, in row order, is
    *keys* (an Arrow array or chunked array) to *path*, through
    ``<path><tmp_suffix>`` and a rename."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"key": keys, "pos": pa.array(np.arange(len(keys), dtype=np.int64))})
    t = t.sort_by([("key", "ascending"), ("pos", "ascending")])
    tmp = path + tmp_suffix
    # a lookup prunes on the key's row-group min/max only; keys are mostly
    # distinct, so a dictionary page would only be built and dropped
    pq.write_table(
        t, tmp, row_group_size=ROW_GROUP_ROWS, compression="snappy",
        use_dictionary=False, write_statistics=["key"],
    )
    os.rename(tmp, path)


def _may_hold(stats, wanted: list) -> bool:
    """Whether a row group whose key statistics are *stats* can hold one of
    the sorted keys *wanted*."""
    if stats is None or not stats.has_min_max:
        return True
    i = bisect.bisect_left(wanted, stats.min)
    return i < len(wanted) and wanted[i] <= stats.max


def lookup(files: list, keys: list) -> "pa.Table":
    """The (file_path, pos) rows of *files* (DataFiles) whose key is one of
    *keys* (Python values; None matches nothing, as in a SQL join). The
    file_path is the data file's ``norm_path``, the form deletion vectors
    and scans use. Runs on the driver with no Spark job; per file it holds
    the sidecar footer plus min(sidecar bytes, row groups hit × row-group
    bytes)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from moonlink_spark.catalog.metadata import norm_path

    wanted = sorted({k for k in keys if k is not None})
    paths: list[str] = []
    positions: list = []
    for f in files if wanted else []:
        pf = pq.ParquetFile(f.key_index)
        md = pf.metadata
        hit = [
            rg for rg in range(md.num_row_groups)
            if _may_hold(md.row_group(rg).column(0).statistics, wanted)
        ]
        if not hit:
            continue
        t = pf.read_row_groups(hit, columns=["key", "pos"])
        value_set = pa.array(wanted, t.schema.field("key").type)
        pos = t.column("pos").filter(pc.is_in(t.column("key"), value_set=value_set))
        if len(pos):
            positions.append(pos.to_numpy())
            paths += [norm_path(f.file_path)] * len(pos)
    return pa.table({
        "file_path": pa.array(paths, pa.string()),
        "pos": pa.array(np.concatenate(positions) if positions else [], pa.int64()),
    })
