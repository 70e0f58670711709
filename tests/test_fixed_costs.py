"""Fixed Spark costs the session factory removes from every small operation:
the listing job Spark runs over a long explicit file list, and the per-task
zip directory re-read of pyspark's Python workers (worker_daemon)."""

import os
import sys
import warnings
import zipimport

import pytest
import pyspark.sql.types as T
from pyspark.sql import functions as F

from moonlink_spark import worker_daemon
from moonlink_spark.operators.merge import merge_into
from moonlink_spark.table import MoonTable

N_FILES = 40


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]


def _stage_names(spark, jobs) -> list[str]:
    st = spark.sparkContext.statusTracker()
    return [
        st.getStageInfo(s).name
        for j in jobs
        for s in j.stageIds
        if st.getStageInfo(s) is not None
    ]


def _many_file_table(spark, root) -> MoonTable:
    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = MoonTable.create(spark, root, schema, key_columns=["image_id"])
    df = spark.range(0, N_FILES * 10).select(
        F.format_string("k%04d", F.col("id")).alias("image_id"),
        F.col("id").alias("v"),
    ).withColumn("_bin", (F.col("v") / 10).cast("int"))
    t.append(df, num_bins=N_FILES)
    assert len(t.data_files()) == N_FILES
    return t


def _update_every_file(spark):
    """One update per data file of _many_file_table: k0000, k0010, ..."""
    return spark.range(0, N_FILES * 10, 10).select(
        F.lit("U").alias("op"),
        (F.col("id") + 100).cast("long").alias("lsn"),
        F.format_string("k%04d", F.col("id")).alias("image_id"),
        (F.col("id") + 1000).alias("v"),
    )


def test_manifest_scan_and_merge_launch_no_listing_job(spark, tmp_path):
    t = _many_file_table(spark, str(tmp_path / "t"))
    built = []
    jobs = _jobs_in_group(
        spark, "scan-build", lambda: built.append(t.scan(files=t.data_files()))
    )
    assert jobs == []  # the file statuses come from a driver-side stat
    assert built[0].count() == N_FILES * 10

    # every key in every file is probed, so the merge scans all 40 files
    ch = _update_every_file(spark)
    jobs = _jobs_in_group(spark, "merge", lambda: merge_into(t, ch, run_id="m1"))
    # a listing job's only stage is named after the reader call
    names = _stage_names(spark, jobs)
    assert names and not [n for n in names if n.startswith("parquet at")], names
    rows = {r["image_id"]: r["v"] for r in t.scan().collect()}
    assert len(rows) == N_FILES * 10
    assert rows["k0010"] == 1010 and rows["k0011"] == 11


def test_merge_runs_two_jobs_and_reads_no_target_file(spark, tmp_path, monkeypatch):
    """The merge applies the batch in one Spark query and finds its delete
    positions in the key-index sidecars on the driver: at most 2 Spark jobs
    (the window's shuffle and the insert write), and none of them reads a
    target data file. Every target file is moved away while the merge runs,
    so a stage that read one would fail. The query's executed plan holds one
    Exchange, no cache and no aggregate."""
    import moonlink_spark.operators.merge as merge_mod

    queries = []
    build = merge_mod._batch_query

    def capture(*a, **kw):
        queries.append(build(*a, **kw))
        return queries[-1]

    monkeypatch.setattr(merge_mod, "_batch_query", capture)
    t = _many_file_table(spark, str(tmp_path / "t"))
    ch = _update_every_file(spark)
    targets = [f.file_path for f in t.data_files()]
    for p in targets:
        os.rename(p, p + ".away")
    try:
        res = []
        jobs = _jobs_in_group(spark, "merge-jobs", lambda: res.append(merge_into(t, ch, run_id="m1")))
    finally:
        for p in targets:
            os.rename(p + ".away", p)
    assert len(jobs) <= 2, [j.jobId for j in jobs]
    final_plan = queries[0]._jdf.queryExecution().executedPlan().toString()
    final_plan = final_plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange ") == 1, final_plan
    assert "InMemoryRelation" not in final_plan and "HashAggregate" not in final_plan, final_plan
    assert res[0].matched_keys == N_FILES
    rows = {r["image_id"]: r["v"] for r in t.scan().collect()}
    assert len(rows) == N_FILES * 10
    assert rows["k0010"] == 1010 and rows["k0011"] == 11


def test_iceberg_export_runs_no_spark_job(spark, tmp_path):
    """export_iceberg builds the mirror's deletes from the bitmap rows on the
    driver: exporting a table with deletion vectors runs no Spark job, at
    format_version 2 (position-delete parquet) or 3 (puffin DVs)."""
    from moonlink_spark.iceberg import export_iceberg

    t = _many_file_table(spark, str(tmp_path / "t"))
    merge_into(t, _update_every_file(spark), run_id="m1")
    assert t.delete_files()
    for version in (2, 3):
        dest = str(tmp_path / f"ice{version}")
        jobs = _jobs_in_group(
            spark, f"export-v{version}",
            lambda: export_iceberg(t, dest, format_version=version),
        )
        assert jobs == [], (version, [j.jobId for j in jobs])
        assert any(n.startswith("ice") for n in os.listdir(os.path.join(dest, "data")))


def _probe_worker_zip_reads(zip_path: str):
    """Run inside a Python worker: report whether the daemon's
    invalidate_caches is installed, then which archives
    importlib.invalidate_caches() -- the call pyspark makes before every
    task -- re-reads, before and after *zip_path*'s mtime is touched."""
    import importlib as il
    import zipimport as zi

    def probe(batches):
        import pyarrow as pa

        installed = zi.zipimporter.invalidate_caches.__code__.co_filename
        reads: list[str] = []
        stock_read = zi._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        sys.path.insert(0, zip_path)
        zi._read_directory = counting_read
        try:
            il.import_module("ml_probe_mod")
            il.invalidate_caches()  # first sight of the new importer
            reads.clear()
            il.invalidate_caches()  # nothing changed
            unchanged = list(reads)
            reads.clear()
            st = os.stat(zip_path)
            os.utime(zip_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
            il.invalidate_caches()  # the archive's mtime moved
            touched = list(reads)
        finally:
            zi._read_directory = stock_read
            sys.path.remove(zip_path)
            sys.path_importer_cache.pop(zip_path, None)
            sys.modules.pop("ml_probe_mod", None)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "installed": [installed],
            "unchanged": ["\n".join(unchanged)],
            "touched": ["\n".join(touched)],
        })

    return probe


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily")
def test_worker_rereads_zip_only_when_it_changes(spark, tmp_path):
    import zipfile

    zip_path = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("ml_probe_mod.py", "X = 1\n")
    out = (
        spark.range(1, numPartitions=1)
        .mapInArrow(
            _probe_worker_zip_reads(zip_path),
            "installed string, unchanged string, touched string",
        )
        .collect()[0]
    )
    assert out["installed"].endswith(os.path.join("moonlink_spark", "worker_daemon.py"))
    assert out["unchanged"] == ""  # no archive is re-read, pyspark.zip included
    assert out["touched"] == zip_path


def test_worker_daemon_leaves_zipimport_alone_from_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_compact_max_concurrent_groups_is_deprecated(spark, tmp_path):
    from moonlink_spark.operators.compaction import CompactionConfig, compact

    t = _many_file_table(spark, str(tmp_path / "t"))
    with pytest.warns(DeprecationWarning, match="max_concurrent_groups"):
        sid = compact(
            t, CompactionConfig(mode="force_full", min_files=2), run_id="c1",
            max_concurrent_groups=4,
        )
    assert sid is not None and len(t.data_files()) < N_FILES
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        compact(t, CompactionConfig(mode="force_full", min_files=2), run_id="c2")
