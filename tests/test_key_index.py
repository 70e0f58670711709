"""Key-index sidecars: every data file the engine commits has one, equal to a
plain read of the file's key column and row positions, sorted by key; the
merge finds the same delete positions in them as a Spark semi-join scan of
the key column (kept here only as the reference); a point read plans only
the files whose sidecar holds the key; expiry and the orphan sweep treat a
sidecar with its data file."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from moonlink_spark.catalog import key_index
from moonlink_spark.catalog.metadata import norm_path
from moonlink_spark.iceberg import export_iceberg, import_iceberg
from moonlink_spark.operators import CompactionConfig, cluster, compact, merge_into, sweep_orphans
from moonlink_spark.operators.expire import _reachable_df, expire_snapshots
from moonlink_spark.operators.manifest_rewrite import rewrite_manifests
from moonlink_spark.operators.merge import last_writer_wins
from moonlink_spark.sources.fixtures import (
    create_images_table,
    generate_changes_df,
    generate_images_df,
)
from moonlink_spark.table import MoonTable

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), True),
    T.StructField("v", T.StringType(), True),
])
CHANGE_DDL = "op string, lsn long, id long, v string"


def _assert_sidecars_match(table: MoonTable) -> None:
    """Every live file's sidecar holds exactly (key, pos) of each of its
    rows, sorted by key, in row groups of at most ROW_GROUP_ROWS rows."""
    key = table.key_columns[0]
    files = table.data_files()
    assert files
    for f in files:
        assert f.key_index is not None and os.path.exists(f.key_index), f.file_path
        side = pq.read_table(f.key_index)
        assert side.column_names == ["key", "pos"]
        md = pq.ParquetFile(f.key_index).metadata
        assert all(
            md.row_group(i).num_rows <= key_index.ROW_GROUP_ROWS
            for i in range(md.num_row_groups)
        )
        data = pq.read_table(f.file_path, columns=[key]).column(key)
        want = pa.table({"key": data, "pos": pa.array(range(len(data)), pa.int64())})
        want = want.sort_by([("key", "ascending"), ("pos", "ascending")])
        assert side.num_rows == f.record_count
        assert side.column("key").to_pylist() == want.column("key").to_pylist()
        assert side.column("pos").to_pylist() == want.column("pos").to_pylist()


def _scan_probe(table: MoonTable, files, keys: list) -> set:
    """The Spark semi-join probe the merge ran before sidecars: the key
    column and _metadata positions of *files*, semi-joined with *keys*."""
    key = table.key_columns[0]
    keys_df = table.spark.createDataFrame(
        [(k,) for k in keys], T.StructType([table.schema[key]])
    )
    rows = (
        table._read_data(files, with_position=True)
        .select(key, "_fp", "_pos")
        .join(keys_df, key, "left_semi")
        .select("_fp", "_pos")
        .collect()
    )
    return {(r["_fp"], r["_pos"]) for r in rows}


def _lookup(files, keys: list) -> set:
    got = key_index.lookup(files, keys)
    return set(zip(got.column("file_path").to_pylist(), got.column("pos").to_pylist()))


def _long_table(spark, root, step: int = 1) -> MoonTable:
    """Three 10-row files of long keys 0, step, 2 * step, ..."""
    t = MoonTable.create(spark, root, SCHEMA, key_columns=["id"])
    base = [(i * step, f"base-{i}") for i in range(30)]
    for part in range(3):
        t.append(spark.createDataFrame(base[part * 10:(part + 1) * 10], SCHEMA).coalesce(1))
    return t


def test_binned_and_rolling_append(spark, tmp_path):
    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA, key_columns=["id"])
    # several row groups per file, keys written out of order, a null key
    df = spark.range(0, 9_000, numPartitions=2).select(
        ((F.col("id") * 7919) % 9_000).alias("id"), F.col("id").cast("string").alias("v")
    ).union(spark.createDataFrame([(None, "0")], SCHEMA))
    t.append(df, rows_per_file=5_000)
    t.append(df.withColumn("_bin", (F.col("v").cast("long") % 3).cast("int")), num_bins=3)
    assert len(t.data_files()) >= 5
    _assert_sidecars_match(t)
    assert max(pq.ParquetFile(f.key_index).num_row_groups for f in t.data_files()) >= 2
    # a lookup finds every copy of a key and nothing for a null or missing key
    got = key_index.lookup(t.data_files(), [7919 % 9_000, None, 10**9])
    assert got.num_rows == 2


def test_add_files_and_import_iceberg(spark, tmp_path):
    # two foreign files with one base name, in two directories
    paths = []
    for d, lo in (("a", 0), ("b", 100)):
        os.makedirs(tmp_path / d)
        p = str(tmp_path / d / "part-0.parquet")
        pq.write_table(
            pa.table({"id": pa.array(range(lo + 49, lo - 1, -1), pa.int64()),
                      "v": [str(i) for i in range(50)]}),
            p, row_group_size=20,
        )
        paths.append(p)
    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA, key_columns=["id"])
    t.add_files(paths)
    _assert_sidecars_match(t)
    sidecars = {f.key_index for f in t.data_files()}
    assert len(sidecars) == 2
    assert all(os.path.dirname(s) == t.catalog.data_dir for s in sidecars)

    merge_into(t, spark.createDataFrame([("U", 5, 120, "x"), ("D", 5, 3, None)], CHANGE_DDL))
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    adopted = import_iceberg(spark, dest, str(tmp_path / "adopted"), key_columns=["id"])
    _assert_sidecars_match(adopted)
    assert sorted(r["id"] for r in adopted.scan().collect()) == sorted(
        r["id"] for r in t.scan().collect()
    )


def test_merge_compaction_split_and_clustering(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, 600, seed=42)
    _assert_sidecars_match(t)
    merge_into(t, generate_changes_df(spark, 600, 120, seed=42), run_id="m1")
    _assert_sidecars_match(t)

    big = generate_images_df(spark, 2_000, seed=9).withColumn(
        "image_id", F.concat(F.lit("big-"), F.col("image_id"))
    ).withColumn("_bin", F.lit(0))
    t.append(big, num_bins=1, run_id="bigf")
    huge = max(t.data_files(), key=lambda f: f.file_size_bytes)
    cfg = CompactionConfig(mode="force_full", target_bytes=max(16 * 1024, huge.file_size_bytes // 4))
    assert compact(t, cfg, run_id="split") is not None
    assert len(t.data_files()) >= 3  # the oversized group was split
    _assert_sidecars_match(t)

    by = ["phash", "w", "h"]
    assert cluster(t, by=by, run_id="z-full") is not None
    _assert_sidecars_match(t)
    merge_into(t, generate_changes_df(spark, 600, 60, seed=42, lsn_start=90_000), run_id="m2")
    assert cluster(t, by=by, run_id="z-incr", scope="incremental") is not None
    _assert_sidecars_match(t)


def _lww_keys(spark, batch) -> list:
    final = last_writer_wins(spark.createDataFrame(batch, CHANGE_DDL), "id")
    return [r["id"] for r in final.select("id").collect()]


def test_lookup_matches_scan_probe(spark, tmp_path):
    """The sequence of test_merge_dead_versions (dead versions of updated
    keys, a deleted key, the missing key 999) on long keys, then a batch
    with a null key: before each merge the sidecar lookup returns the
    positions the semi-join scan returns."""
    t = _long_table(spark, str(tmp_path / "t"))
    keys = [1, 5, 12, 18, 25]
    b1 = [("U", 100, k, f"b1-{k}") for k in keys] + [("I", 100, 100, "b1-new")]
    b2 = [("U", 200, k, f"b2-{k}") for k in keys + [100]]
    b3 = [("U", 300, k, f"b3-{k}") for k in keys + [100] if k != 5]
    b3 += [("D", 300, 5, None), ("D", 300, 999, None)]
    b4 = [("U", 400, None, "null"), ("U", 400, 7, "b4-7")]
    sizes = []
    for i, b in enumerate([b1, b2, b3, b4]):
        files = t.data_files()
        batch_keys = _lww_keys(spark, b)
        want = _scan_probe(t, files, batch_keys)
        assert _lookup(files, batch_keys) == want
        sizes.append(len(want))
        merge_into(t, spark.createDataFrame(b, CHANGE_DDL), run_id=f"m{i}")
    # dead versions accumulate: b2 finds 6 keys' rows plus b1's 5 dead ones
    assert sizes == [5, 11, 17, 1]
    assert t.scan().filter(F.col("id").isNull()).count() == 1


def test_point_reads_plan_only_files_holding_the_key(spark, tmp_path):
    t = _long_table(spark, str(tmp_path / "t"), step=2)  # even keys 0-58
    for i, lsn in enumerate((100, 200)):
        merge_into(t, spark.createDataFrame([("U", lsn, 4, f"v{i}")], CHANGE_DDL), run_id=f"u{i}")
    merge_into(t, spark.createDataFrame([("D", 300, 4, None)], CHANGE_DDL), run_id="d")
    assert len(t.data_files()) == 5

    def holding(k):
        return {
            norm_path(f.file_path) for f in t.data_files()
            if k in pq.read_table(f.file_path, columns=["id"]).column("id").to_pylist()
        }

    live = t.plan_files({"id": (8, 8)})
    assert len(live) == 1 and t.scan(files=live).filter(F.col("id") == 8).count() == 1
    # the base file and both update files hold a dead version of key 4
    dead = t.plan_files({"id": (4, 4)})
    assert {norm_path(f.file_path) for f in dead} == holding(4) and len(dead) == 3
    assert t.scan(files=dead).filter(F.col("id") == 4).count() == 0
    # 7 lies inside the first file's min/max range but was never written
    assert len(t.plan_files({"id": (6, 8)})) == 1
    assert t.plan_files({"id": (7, 7)}) == []


def test_sweep_keeps_referenced_sidecars_and_removes_a_killed_runs(
    spark, tmp_table_root, monkeypatch
):
    t = create_images_table(spark, tmp_table_root, 300, seed=42)
    old = {f.key_index for f in t.data_files()}
    assert compact(t, CompactionConfig(mode="force_full"), run_id="c1") is not None

    def die(*a, **k):
        raise RuntimeError("killed at commit")

    with monkeypatch.context() as m:
        m.setattr(MoonTable, "commit_snapshot", die)
        with pytest.raises(RuntimeError, match="killed at commit"):
            t.append(generate_images_df(spark, 50, seed=5), run_id="k1")
    killed = {
        os.path.join(t.catalog.data_dir, n) for n in os.listdir(t.catalog.data_dir)
        if n.startswith("k1-") and n.endswith(".keys.parquet")
    }
    assert killed

    live = {f.key_index for f in t.data_files()}
    reachable = {r["path"] for r in _reachable_df(t).collect()}
    assert old | live <= reachable and not killed & reachable
    assert old | live <= t.all_reachable_paths()

    acted = set(sweep_orphans(t, quarantine=False, older_than_seconds=0))
    assert killed <= acted
    assert all(os.path.exists(p) for p in old | live)  # the first snapshot still holds `old`

    expire_snapshots(t, retain_last=1)
    acted = set(sweep_orphans(t, quarantine=False, older_than_seconds=0))
    assert old <= acted and all(os.path.exists(p) for p in live)
    _assert_sidecars_match(t)


def test_rewrite_manifests_with_stats_keeps_key_index(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, 300, seed=42)
    before = {f.file_path: f.key_index for f in t.data_files()}
    rewrite_manifests(t, recompute_stats=True)
    assert {f.file_path: f.key_index for f in t.data_files()} == before
    _assert_sidecars_match(t)
