"""Per-file column stats from parquet footers, as a distributed job.

Analog of moonlink's parquet_stats_utils.rs:34-120 (row-group stats ->
Iceberg min/max Datum), fanned out with Spark so a 10^12-scale file list is
processed by the cluster, not the driver. For add_files the same task also
writes each foreign file's key-index sidecar (catalog/key_index.py).
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import SparkSession


def _file_stats(
    paths: Iterator[str], key: str | None, index_dir: str | None
) -> Iterator[tuple[str, str]]:
    import os

    import pyarrow.parquet as pq

    from moonlink_spark.catalog.key_index import key_index_path, write_key_index

    for path in paths:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        schema = pf.schema_arrow
        index = None
        if key is not None:
            index = key_index_path(path, index_dir)
            write_key_index(
                pf.read(columns=[key]).column(key), index, f".inprogress.{os.getpid()}"
            )
        stats: dict[str, dict] = {}
        for ci in range(md.num_columns):
            # md indexes PHYSICAL leaf columns; a list/map/struct column
            # fans out to several leaves whose path_in_schema is dotted —
            # only top-level primitive columns carry scalar min/max stats
            name = md.schema.column(ci).path
            if "." in name:
                continue
            fi = schema.get_field_index(name)
            if fi == -1 or schema.field(fi).type == "binary":
                continue
            mn, mx, nulls = None, None, 0
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                if st is None:
                    continue
                nulls += st.null_count or 0
                if st.has_min_max:
                    cmn, cmx = st.min, st.max
                    if isinstance(cmn, bytes):
                        try:
                            cmn, cmx = cmn.decode(), cmx.decode()
                        except Exception:
                            continue
                    mn = cmn if mn is None else min(mn, cmn)
                    mx = cmx if mx is None else max(mx, cmx)
            stats[name] = {"min": mn, "max": mx, "null_count": int(nulls)}
        yield (
            path,
            json.dumps(
                {
                    "record_count": md.num_rows,
                    "file_size_bytes": os.path.getsize(path),
                    "stats": stats,
                    "key_index": index,
                },
                # temporal footer min/max arrive as datetime objects; store
                # isoformat, matching the write path (plans/physical._norm)
                default=lambda v: (
                    v.isoformat() if hasattr(v, "isoformat") else str(v)
                ),
            ),
        )


def footer_stats(
    spark: SparkSession, paths: list[str], key: str | None = None, index_dir: str | None = None
) -> dict[str, dict]:
    """path -> {record_count, file_size_bytes, stats{col: {min,max,null_count}},
    key_index}. With *key*, the same task also reads each file's *key*
    column and writes its key-index sidecar into *index_dir* (add_files);
    without, key_index is None (a stats refresh of committed files)."""
    if not paths:
        return {}
    par = min(len(paths), spark.sparkContext.defaultParallelism * 2)
    rdd = spark.sparkContext.parallelize(paths, par)
    out = rdd.mapPartitions(lambda it: _file_stats(it, key, index_dir)).collect()
    return {p: json.loads(s) for p, s in out}
