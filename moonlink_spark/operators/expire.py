"""Snapshot expiry + reachability-based orphan sweep.

Moonlink keeps only the current snapshot and never deletes old metadata
versions (SURVEY.md §2 row 24: file_catalog.rs:606-624 accumulates
v{N}.metadata.json forever) — the north rule requires real expiry, so this
is designed from the Iceberg public semantics: retain the last K snapshots,
then remove files unreachable from ANY retained snapshot.

Scale design (what survives 10^12 images):

- REACHABLE side: manifest chunks are JSON arrays — ``spark.read.json``
  reads them DISTRIBUTED; the full path set never materializes on the
  driver (only the chunk-name list, which is metadata-sized).
- LISTING side: the data dir is streamed with ``os.scandir`` in bounded
  batches (object-store deployments shard the prefix listing the same way);
  each batch becomes a small DataFrame, and the set-difference is a
  cluster-side left-anti join.
- ACT side: orphans are deleted/quarantined by ``foreachPartition`` ON THE
  EXECUTORS (shared filesystem / object store), so a million-orphan sweep
  is a parallel delete, not a driver loop. The returned path list is
  collected only because callers audit it — the mutation itself never
  round-trips through the driver.
- SAFETY: two-phase quarantine (first pass moves, second pass purges) plus
  an *older_than_seconds* grace window so an in-flight commit's
  freshly-written-but-not-yet-CAS-referenced files (data OR manifest
  chunks) are never swept. Production should run with hours of grace
  (Iceberg's remove_orphan_files defaults to 3 days); tests use 0 for
  determinism.

Manifest GC follows the same rules: a chunk is garbage only if NO snapshot
of the current metadata AND no snapshot of any RETAINED history version
(v*.metadata.json, last 10 kept) references it — otherwise time-travel
loads of retained history versions would dangle. Garbage chunks go through
the same quarantine/purge cycle as data files.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, functions as F

_LOG = logging.getLogger("moonlink_spark.expire")

from moonlink_spark.catalog.metadata import TableMetadata, norm_path
from moonlink_spark.table import MoonTable

_LIST_BATCH = 200_000  # dirents per listing batch (bounds driver memory)
_RETAIN_METADATA_VERSIONS = 10
# below this many listed files the set-difference runs on the driver (the
# manifest chunk cache makes the reachable side free) — a Spark job for a
# few hundred paths is pure scheduling overhead. Above it, the listing is
# joined and acted on cluster-side.
_DRIVER_SWEEP_MAX = 100_000


def expire_snapshots(table: MoonTable, retain_last: int = 3) -> list[int]:
    """Drop all but the newest *retain_last* snapshots (the current snapshot
    and tagged snapshots are always retained). Metadata-only commit; data
    files are reclaimed by sweep_orphans. Returns expired snapshot ids.

    Staged-but-unpublished snapshots (write-audit-publish) age out like any
    other once they fall out of the newest-K window — a later
    publish_snapshot of an expired stage fails cleanly (Iceberg expires
    stale WAP snapshots the same way); tag a stage to pin it."""

    def edit(meta: TableMetadata) -> list[int]:
        snaps = sorted(meta.snapshots, key=lambda s: s.sequence_number)
        if len(snaps) <= retain_last:
            return []
        keep = snaps[-retain_last:]
        keep_ids = {s.snapshot_id for s in keep}
        if meta.current_snapshot_id is not None:
            keep_ids.add(meta.current_snapshot_id)
        # tagged snapshots are pinned (Iceberg tag semantics): a tag is an
        # explicit promise that scan(ref=...) keeps working until drop_tag
        keep_ids.update(meta.refs.values())
        # branch heads are pinned WITH their ancestry back to a retained
        # snapshot: fast_forward_main must still find an unbroken parent
        # chain, and branch scans read the head's manifests
        by_id = {s.snapshot_id: s for s in snaps}
        for head in meta.branches.values():
            cur = head
            while cur is not None and cur not in keep_ids:
                keep_ids.add(cur)
                s = by_id.get(cur)
                cur = s.parent_id if s is not None else None
        meta.snapshots = [s for s in snaps if s.snapshot_id in keep_ids]
        return [s.snapshot_id for s in snaps if s.snapshot_id not in keep_ids]

    return table.catalog.update(edit, "expire snapshots")


def _reachable_df(table: MoonTable) -> DataFrame | None:
    """Every data, key-index and delete path referenced by any retained
    snapshot, as a DISTRIBUTED DataFrame (manifest chunks parsed on
    executors)."""
    meta = table.meta
    chunk_names: set[str] = set()
    for s in meta.snapshots:
        chunk_names.update(s.manifests)
        chunk_names.update(s.delete_manifests)
    if not chunk_names:
        return None
    paths = [os.path.join(table.catalog.metadata_dir, n) for n in sorted(chunk_names)]
    # explicit schema: skips the inference pass (a whole extra job over
    # every chunk) and stays stable however the entry dicts evolve; delete
    # entries have no key_index, so theirs reads NULL
    raw = table.spark.read.schema("file_path string, key_index string").json(
        paths, multiLine=True
    )
    return (
        raw.select(F.explode(F.array("file_path", "key_index")).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.regexp_replace(F.col("p"), "^file:(//)?", "").alias("path"))
        .distinct()
    )


def _listing_batches(data_dir: str):
    batch: list[str] = []
    with os.scandir(data_dir) as it:
        for e in it:
            n = e.name
            # temp writer files are ".inprogress" or ".inprogress.<attempt>"
            if ".inprogress" in n or n.endswith(".tmp"):
                continue
            batch.append(norm_path(os.path.join(data_dir, n)))
            if len(batch) >= _LIST_BATCH:
                yield batch
                batch = []
    if batch:
        yield batch


# listing shards for the distributed path: one executor task per shard
_LIST_SHARDS = 64

# max orphan paths returned to the caller as audit output on the
# distributed path (the true acted count is logged; the mutation itself
# never needs the full list on the driver)
_AUDIT_SAMPLE_MAX = 10_000


def _distributed_listing_df(spark, data_dir: str) -> DataFrame:
    """List the data directory IN EXECUTOR TASKS, sharded by filename hash:
    above the driver cap, no filename ever streams through the driver — the
    listing materializes directly as executor partitions feeding the
    set-difference join. On a POSIX dir each shard re-reads the (page-
    cached) dirent stream and keeps its hash slice; on an object store this
    is where a native per-prefix LIST call goes (s3://…/data/<prefix>*),
    which is exactly how Iceberg's remove_orphan_files fans out listing."""
    shards = _LIST_SHARDS

    def _scan(shard_ids):
        import os as _os
        import zlib as _zlib

        for shard in shard_ids:
            with _os.scandir(data_dir) as it:
                for e in it:
                    n = e.name
                    if ".inprogress" in n or n.endswith(".tmp"):
                        continue
                    if _zlib.crc32(n.encode()) % shards != shard:
                        continue
                    yield (_os.path.abspath(_os.path.join(data_dir, n)),)

    rdd = spark.sparkContext.parallelize(range(shards), shards).mapPartitions(_scan)
    return spark.createDataFrame(rdd, "path string")


def sweep_orphans(
    table: MoonTable,
    quarantine: bool = True,
    include_metadata: bool = True,
    older_than_seconds: float = 300.0,
) -> list[str]:
    """Remove data, key-index and delete files not reachable from any
    retained snapshot.

    Two-phase: first call moves orphans into metadata/quarantine/; a later
    call with quarantine=False purges it (and deletes fresh orphans
    directly). Files still being written (*.inprogress), lineage records,
    and anything younger than *older_than_seconds* are never touched.

    *older_than_seconds* is the ONLY protection for a concurrent writer's
    completed-but-not-yet-CAS-committed files (lock-free appends never hold
    the maintenance lock), so it defaults to a 5-minute grace; production
    should use hours (Iceberg's remove_orphan_files defaults to 3 days,
    as jobs/maintain.py does). Pass 0 only in deterministic single-writer
    tests. Returns the paths acted on — on the distributed path (above
    _DRIVER_SWEEP_MAX listed files) a sample capped at _AUDIT_SAMPLE_MAX,
    with the true acted count logged; the full list never passes through
    the driver."""
    spark = table.spark
    cutoff = time.time() - older_than_seconds
    grace = older_than_seconds
    qdir = os.path.join(table.catalog.metadata_dir, "quarantine")
    acted: list[str] = []

    # stream the listing on the driver only up to _DRIVER_SWEEP_MAX names;
    # past the cap the partial stream is abandoned and the WHOLE listing
    # re-runs sharded across executor tasks (_distributed_listing_df) — at
    # object-store scale no filename ever passes through the driver
    small_paths: list[str] | None = []
    n_listed = 0
    for batch in _listing_batches(table.catalog.data_dir):
        n_listed += len(batch)
        if n_listed > _DRIVER_SWEEP_MAX:
            small_paths = None
            break
        small_paths.extend(batch)
    fs_df: DataFrame | None = (
        _distributed_listing_df(spark, table.catalog.data_dir)
        if small_paths is None
        else None
    )

    def _act_one(p: str) -> bool:
        import os as _os
        import shutil as _shutil
        import time as _time

        try:
            if grace > 0 and _os.path.getmtime(p) >= _time.time() - grace:
                return False
            if quarantine:
                _shutil.move(p, _os.path.join(qdir, _os.path.basename(p)))
            else:
                _os.unlink(p)
            return True
        except FileNotFoundError:
            return True  # another task/phase already acted

    if quarantine and n_listed:
        os.makedirs(qdir, exist_ok=True)

    if small_paths is not None and n_listed:
        # small table: metadata-scale set difference on the driver (chunk
        # cache makes the reachable side free); no Spark job at all
        reachable = table.all_reachable_paths()
        for p in small_paths:
            if p not in reachable and _act_one(p):
                acted.append(p)
    elif n_listed:
        reach_df = _reachable_df(table)
        orphans_df = (
            fs_df.join(reach_df, "path", "left_anti") if reach_df is not None else fs_df
        )

        # ONE distributed pass does both the DELETE/MOVE and the audit:
        # each shard acts on its orphans and reports (count, capped
        # sample). The driver never materializes the full orphan list — at
        # a million-orphan object-store sweep that list is executor-sized
        # state the mutation path doesn't need.
        per_shard = max(1, _AUDIT_SAMPLE_MAX // _LIST_SHARDS)

        def _act_and_audit(rows):
            n = 0
            sample: list[str] = []
            for r in rows:
                if _act_one(r["path"]):
                    n += 1
                    if len(sample) < per_shard:
                        sample.append(r["path"])
            yield (n, sample)

        shard_reports = orphans_df.rdd.mapPartitions(_act_and_audit).collect()
        n_acted = sum(n for n, _ in shard_reports)
        sampled = [p for _, s in shard_reports for p in s][:_AUDIT_SAMPLE_MAX]
        if n_acted > len(sampled):
            _LOG.info(
                "orphan sweep acted on %d files; audit sample capped at %d",
                n_acted, len(sampled),
            )
        acted.extend(sampled)

    if not quarantine and os.path.isdir(qdir):
        # purge phase: anything parked by a previous quarantine pass
        for n in os.listdir(qdir):
            fp = os.path.join(qdir, n)
            if older_than_seconds > 0 and not _mtime_before(fp, cutoff):
                continue
            os.unlink(fp)
            acted.append(fp)

    if include_metadata:
        acted.extend(
            _gc_metadata(table, quarantine=quarantine, cutoff=cutoff,
                         grace=older_than_seconds)
        )
    return acted


def _mtime_before(path: str, cutoff: float, missing_ok: bool = False) -> bool:
    try:
        return os.path.getmtime(path) < cutoff
    except FileNotFoundError:
        return missing_ok


def _gc_metadata(
    table: MoonTable, quarantine: bool, cutoff: float, grace: float
) -> list[str]:
    """Prune old metadata versions and unreferenced manifest chunks.

    A manifest chunk is referenced if ANY snapshot of the current metadata
    OR of any retained history version (last 10 v*.metadata.json) lists it —
    incremental commits share chunks across snapshots AND across versions,
    and a retained history version must stay loadable. Garbage chunks go
    through the same quarantine / second-pass purge as data files so a
    concurrent reader of a just-expired snapshot never loses its manifests
    mid-scan."""
    acted: list[str] = []
    mdir = table.catalog.metadata_dir
    versions = table.catalog.metadata_versions()
    for v in versions[:-_RETAIN_METADATA_VERSIONS]:
        os.unlink(os.path.join(mdir, f"v{v}.metadata.json"))

    referenced: set[str] = set()
    for v in versions[-_RETAIN_METADATA_VERSIONS:]:
        try:
            m = table.catalog.load(v)
        except FileNotFoundError:
            continue
        for s in m.snapshots:
            referenced.update(s.manifests)
            referenced.update(s.delete_manifests)

    qdir = os.path.join(mdir, "quarantine")
    for n in os.listdir(mdir):
        if (
            (n.startswith("manifest-") or n.startswith("delete-manifest-"))
            and n.endswith(".json")
            and n not in referenced
        ):
            fp = os.path.join(mdir, n)
            if grace > 0 and not _mtime_before(fp, cutoff):
                continue  # may belong to an in-flight, not-yet-CAS'd commit
            if quarantine:
                os.makedirs(qdir, exist_ok=True)
                shutil.move(fp, os.path.join(qdir, n))
            else:
                os.unlink(fp)
            acted.append(fp)
    return acted
