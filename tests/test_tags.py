"""Snapshot tags: named immutable refs that pin snapshots against expiry
(Iceberg tag semantics) and resolve by name at scan time."""

import pytest

from moonlink_spark.operators.expire import expire_snapshots, sweep_orphans
from moonlink_spark.operators.merge import merge_into
from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tag_pins_snapshot_through_expiry(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    base_snap = t.current_snapshot_id()
    base = _rows(t.scan(columns=["image_id", "caption"]))
    assert t.create_tag("v1") == base_snap

    merge_into(t, generate_changes_df(spark, 400, 80, seed=3), run_id="m1")
    merge_into(t, generate_changes_df(spark, 400, 80, seed=4, lsn_start=9_000_000), run_id="m2")
    expire_snapshots(t, retain_last=1)
    sweep_orphans(t, quarantine=False, older_than_seconds=0)

    # the tagged snapshot survived expiry AND the sweep kept its files
    assert base_snap in {s.snapshot_id for s in t.snapshots()}
    assert _rows(t.scan(ref="v1", columns=["image_id", "caption"])) == base
    assert t.refs() == {"v1": base_snap}

    # dropping the tag releases it: the next expiry removes the snapshot
    t.drop_tag("v1")
    expire_snapshots(t, retain_last=1)
    assert base_snap not in {s.snapshot_id for s in t.snapshots()}
    with pytest.raises(KeyError):
        t.scan(ref="v1")


def test_tag_immutability_and_errors(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, 200, seed=42)
    snap = t.current_snapshot_id()
    t.create_tag("rel", snap)
    assert t.create_tag("rel", snap) == snap  # same target: no-op
    merge_into(t, generate_changes_df(spark, 200, 40, seed=3), run_id="m1")
    with pytest.raises(ValueError):
        t.create_tag("rel")  # different target: tags never move
    with pytest.raises(KeyError):
        t.create_tag("ghost", 10**18)
    with pytest.raises(KeyError):
        t.drop_tag("missing")
    with pytest.raises(ValueError):
        t.scan(ref="rel", snapshot_id=snap)


def test_create_tag_refuses_a_branch_name(spark, tmp_table_root):
    """Tags and branches share a namespace: the mirror of create_branch
    refusing a tag's name."""
    t = create_images_table(spark, tmp_table_root, 50, seed=42)
    t.create_branch("x")
    with pytest.raises(ValueError):
        t.create_tag("x")
    assert "x" not in t.refs()
