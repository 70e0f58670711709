"""Branch refs: mutable named refs with staged writes, fast-forward-only
advance, publish via main fast-forward, and expiry pinning of head +
ancestry (the mutable half of the Iceberg ref model, next to tags)."""

import pytest

from pyspark.sql import functions as F

from moonlink_spark.catalog.catalog import CommitConflict
from moonlink_spark.operators.expire import expire_snapshots
from moonlink_spark.sources.fixtures import create_images_table, generate_images_df


def _suffixed(spark, n, seed, suffix):
    return generate_images_df(spark, n, seed=seed).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit(suffix))
    )


def test_branch_write_isolated_from_main(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 200, seed=42)
    t.create_branch("dev")
    t.append(_suffixed(spark, 50, 42, "-br"), run_id="b1", branch="dev")

    assert t.scan().count() == 200  # main untouched
    assert t.scan(ref="dev").count() == 250
    assert t.branches()["dev"] != t.current_snapshot_id()
    # second branch append stacks on the branch head
    t.append(_suffixed(spark, 30, 42, "-br2"), run_id="b2", branch="dev")
    assert t.scan(ref="dev").count() == 280
    assert t.scan().count() == 200


def test_fast_forward_main_publishes_branch(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 150, seed=42)
    t.create_branch("dev")
    sid = t.append(_suffixed(spark, 40, 42, "-br"), run_id="b1", branch="dev")
    # branch snapshots are staged: invisible to LSN history until publish
    assert t.meta.snapshot_by_id(sid).summary.get("staged") is True

    head = t.fast_forward_main("dev")
    assert head == sid == t.current_snapshot_id()
    assert t.scan().count() == 190
    assert t.meta.snapshot_by_id(sid).summary.get("staged") is None


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    t.create_branch("dev")
    t.append(_suffixed(spark, 20, 42, "-br"), run_id="b1", branch="dev")
    t.append(_suffixed(spark, 10, 42, "-main"), run_id="m1")  # main moves
    with pytest.raises(CommitConflict):
        t.fast_forward_main("dev")


def test_advance_branch_fast_forward_only(spark, tmp_path):
    """A staged commit parented at a STALE head (a racing writer advanced
    the branch first) must not advance the branch — no silent overwrite."""
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    t.create_branch("dev")
    stale_head = t.branches()["dev"]
    t.append(_suffixed(spark, 20, 42, "-w1"), run_id="b1", branch="dev")

    # loser writer: staged snapshot parented at the stale head
    from moonlink_spark.plans.physical import write_datafiles_rolling

    files = write_datafiles_rolling(
        _suffixed(spark, 10, 42, "-w2"),
        data_dir=t.catalog.data_dir,
        run_id="loser",
        key="image_id",
        rows_per_file=131_072,
    )
    loser_sid = t.commit_snapshot(
        "append",
        t.data_files(snapshot_id=stale_head) + files,
        t.delete_files(snapshot_id=stale_head),
        summary={"staged": True, "branch": "dev"},
        stage_only=True,
        parent_override=stale_head,
    )
    with pytest.raises(CommitConflict):
        t.advance_branch("dev", loser_sid)
    assert t.scan(ref="dev").count() == 120  # winner's state intact


def test_expire_pins_branch_head_and_ancestry(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    t.create_branch("dev")
    t.append(_suffixed(spark, 20, 42, "-a"), run_id="b1", branch="dev")
    t.append(_suffixed(spark, 20, 42, "-b"), run_id="b2", branch="dev")
    # churn main so retain-last would expire the branch lineage
    for i in range(4):
        t.append(_suffixed(spark, 5, 42, f"-m{i}"), run_id=f"m{i}")
    expire_snapshots(t, retain_last=1)
    assert t.scan(ref="dev").count() == 140  # head + ancestry survived
    ids = {s.snapshot_id for s in t.snapshots()}
    assert t.branches()["dev"] in ids

    t.drop_branch("dev")
    expire_snapshots(t, retain_last=1)
    with pytest.raises(KeyError):
        t.scan(ref="dev")


def test_branch_tag_namespace_shared(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 50, seed=42)
    t.create_tag("v1")
    with pytest.raises(ValueError):
        t.create_branch("v1")
