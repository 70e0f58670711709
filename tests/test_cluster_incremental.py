"""Incremental clustering: absorb unclustered appends into an existing
curve layout without rewriting clustered survivors, carrying surviving
deletion vectors over (compaction-style DV rewrite)."""

from conftest import dv_positions

from moonlink_spark.catalog.metadata import norm_path
from moonlink_spark.operators.clustering import cluster
from moonlink_spark.operators.merge import merge_into
from moonlink_spark.operators.optimize import optimize
from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

N = 600
BY = ["phash", "w", "h"]


def _rows(t):
    return sorted(
        tuple(r) for r in t.scan(columns=["image_id", "caption", "phash"]).collect()
    )


def test_incremental_clusters_only_fresh_files(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, N, seed=42)
    cluster(t, by=BY, curve="zorder", run_id="z1", target_bytes=64 * 1024)
    clustered = {norm_path(f.file_path) for f in t.data_files()}
    expected = _rows(t)

    # noop: everything is already on the curve
    assert cluster(t, by=BY, run_id="z2", scope="incremental") is None

    # fresh unclustered append (distinct keys via prefix)
    from pyspark.sql import functions as F

    from moonlink_spark.sources.fixtures import generate_images_df

    extra = generate_images_df(spark, 200, seed=99).withColumn(
        "image_id", F.concat(F.lit("fresh-"), F.col("image_id"))
    )
    t.append(extra, run_id="a2")
    expected_after = sorted(
        expected
        + [
            (r["image_id"], r["caption"], r["phash"])
            for r in extra.select("image_id", "caption", "phash").collect()
        ]
    )

    snap = cluster(t, by=BY, run_id="z3", scope="incremental", target_bytes=64 * 1024)
    assert snap == t.current_snapshot_id()
    assert _rows(t) == expected_after
    # survivors untouched by path; fresh files all on the curve now
    after = {norm_path(f.file_path): f for f in t.data_files()}
    assert clustered <= set(after)
    assert all(f.cluster_by == "zorder" for f in after.values())
    s = t.meta.current_snapshot()
    assert s.summary["scope"] == "incremental"
    # strictly fewer files rewritten than the table holds
    assert s.summary["removed-files"] < len(after)


def test_incremental_carries_surviving_deletes(spark, tmp_table_root):
    """A merge leaves DVs on CLUSTERED files and fresh insert files; the
    incremental pass rewrites only the fresh files, and the survivors'
    deletion vectors must keep suppressing their rows afterwards."""
    t = create_images_table(spark, tmp_table_root, N, seed=42)
    cluster(t, by=BY, curve="zorder", run_id="z1", target_bytes=64 * 1024)
    merge_into(t, generate_changes_df(spark, N, 150, seed=42), run_id="m1")
    expected = _rows(t)
    assert t.delete_files(), "merge should have produced deletion vectors"

    snap = optimize(t, mode="incremental", cluster_by=BY, run_id="i1",
                    target_bytes=64 * 1024)
    assert snap is not None
    assert _rows(t) == expected
    # DVs targeting survivors still exist (rewritten), and no delete row
    # targets a victim (those were applied inline)
    live = {norm_path(f.file_path) for f in t.data_files()}
    targets = {norm_path(fp) for fp, _ in dv_positions(t.delete_files())}
    assert targets <= live
