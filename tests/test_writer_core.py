"""The single parquet writer core: both ways of picking files record the
same stats, a resume never returns a path whose file is gone, and only
bitmap deletion vectors are read."""

import os

import pytest

from pyspark.sql import functions as F

from moonlink_spark.catalog.metadata import DeleteFile
from moonlink_spark.operators import CompactionConfig, compact, sweep_orphans
from moonlink_spark.plans.physical import write_datafiles, write_datafiles_rolling
from moonlink_spark.sources.fixtures import (
    IMAGES_SCHEMA,
    create_images_table,
    generate_images_df,
)
from moonlink_spark.table import MoonTable

COLS = ["image_id", "w", "h", "fmt", "caption", "phash"]


def test_binned_and_rolling_writers_record_equal_stats(spark, tmp_path):
    df = generate_images_df(spark, 300, seed=3).coalesce(1)
    binned = write_datafiles(
        df.withColumn("_bin", F.lit(0)),
        data_dir=str(tmp_path),
        run_id="b1",
        key="image_id",
        num_bins=1,
    )
    rolling = write_datafiles_rolling(
        df, data_dir=str(tmp_path), run_id="r1", key="image_id", rows_per_file=10_000
    )
    assert len(binned) == len(rolling) == 1
    assert binned[0].record_count == rolling[0].record_count == 300
    assert rolling[0].stats == binned[0].stats
    assert {c for c, s in rolling[0].stats.items() if "sum" in s} == {"w", "h", "phash"}


def test_rolling_writer_rolls_over_within_a_partition(spark, tmp_path):
    files = write_datafiles_rolling(
        generate_images_df(spark, 250, seed=5).coalesce(1),
        data_dir=str(tmp_path),
        run_id="r2",
        key="image_id",
        rows_per_file=100,
    )
    assert [os.path.basename(f.file_path) for f in files] == [
        "r2-p00000-0000.parquet",
        "r2-p00000-0001.parquet",
        "r2-p00000-0002.parquet",
    ]
    assert [f.record_count for f in files] == [100, 100, 50]


def test_resumed_write_rewrites_bin_whose_file_is_gone(spark, tmp_path):
    df = generate_images_df(spark, 400, seed=7).withColumn(
        "_bin", F.pmod(F.xxhash64("image_id"), F.lit(4)).cast("int")
    )
    kw = dict(
        data_dir=str(tmp_path),
        run_id="w1",
        key="image_id",
        num_bins=4,
        lineage_dir=str(tmp_path / "lineage"),
    )
    first = write_datafiles(df, **kw)
    assert len(first) == 4
    # an orphan sweep removed one uncommitted output; its record stays
    os.remove(first[1].file_path)

    again = write_datafiles(df, **kw)
    assert [f.file_path for f in again] == [f.file_path for f in first]
    assert all(os.path.exists(f.file_path) for f in again)
    assert sum(f.record_count for f in again) == 400
    assert spark.read.parquet(*[f.file_path for f in again]).count() == 400


def test_compaction_rerun_after_kill_and_sweep(spark, tmp_table_root, monkeypatch):
    t = create_images_table(spark, tmp_table_root, 600, seed=42)
    expected = sorted(tuple(r) for r in t.scan(columns=COLS).collect())
    cfg = CompactionConfig(mode="force_full", target_bytes=64 * 1024)

    def killed(*a, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(MoonTable, "commit_snapshot", killed)
    with pytest.raises(RuntimeError, match="killed before commit"):
        compact(t, cfg, run_id="c1")
    monkeypatch.undo()
    # the killed run's outputs are uncommitted orphans
    assert sweep_orphans(t, quarantine=False, older_than_seconds=0)

    assert compact(t, cfg, run_id="c1") is not None
    assert all(os.path.exists(f.file_path) for f in t.data_files())
    assert sorted(tuple(r) for r in t.scan(columns=COLS).collect()) == expected


def test_non_bitmap_delete_file_is_rejected(spark, tmp_table_root):
    t = MoonTable.create(spark, tmp_table_root, IMAGES_SCHEMA, key_columns=["image_id"])
    old = DeleteFile(
        file_path="/warehouse/data/del-old.parquet",
        record_count=3,
        file_size_bytes=100,
        format="positions",
    )
    with pytest.raises(ValueError, match="del-old.parquet"):
        t.read_bitmap_rows([old])


def test_append_num_bins_requires_bin_column(spark, tmp_table_root):
    t = MoonTable.create(spark, tmp_table_root, IMAGES_SCHEMA, key_columns=["image_id"])
    with pytest.raises(ValueError, match="_bin"):
        t.append(generate_images_df(spark, 10, seed=1), num_bins=2)
