"""Manifest rewrite: coalesce manifest chunks + refresh per-file stats.

Mirrors moonlink's manifest rewrite at commit (SURVEY.md §2 rows 15, 17, 21:
data_file_manifest_manager.rs rolls manifests at 25k entries). Moonlink's
index merge folds many small per-file hash indexes into one; this engine's
per-file index is the key-index sidecar (catalog/key_index.py), which no
job merges yet, so optimize(mode="index") runs this manifest coalesce.

Stats recomputation reads parquet FOOTERS only (row-group min/max), as a
distributed Spark job over the file list — the same trick as
parquet_stats_utils.rs:34-120 but fanned out across executors. It changes
stats, row counts and sizes only: every entry keeps its key_index.
"""

from __future__ import annotations

from moonlink_spark.catalog.metadata import MANIFEST_MAX_ENTRIES
from moonlink_spark.catalog.stats import footer_stats
from moonlink_spark.table import MoonTable


def rewrite_manifests(
    table: MoonTable,
    recompute_stats: bool = False,
    max_entries: int = MANIFEST_MAX_ENTRIES,
) -> int:
    """Rewrite the current snapshot's manifests; returns the new snapshot id.
    A file appended after the footer read keeps the stats it was committed
    with."""
    stats_by_path = (
        footer_stats(table.spark, [f.file_path for f in table.data_files()])
        if recompute_stats else {}
    )
    summary = {
        "manifest-max-entries": max_entries,
        "recomputed-stats": bool(recompute_stats),
    }

    def build(files, deletes):
        for f in files:
            got = stats_by_path.get(f.file_path)
            if got:
                f.stats = got["stats"]
                f.record_count = got["record_count"]
                f.file_size_bytes = got["file_size_bytes"]
        summary["data-files"] = len(files)
        return files, deletes

    # coalesce: regular commits reuse chunks incrementally; THIS job's
    # purpose is to fold accumulated small chunks into full-size ones
    return table.commit_files("rewrite-manifests", build, summary, force_rewrite=True)
