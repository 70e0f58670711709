"""The one commit loop (FileCatalog.update / MoonTable.commit_files): every
catalog write edits the metadata it pinned, and only a lost CAS retries.

Each race is made deterministic by wrapping the catalog pin or the manifest
read of the writer under test so that it runs one append, once, right after
the writer has read the state it commits from."""

import pyspark.sql.types as T
import pytest

from pyspark.sql import functions as F

import moonlink_spark.table as table_mod
from moonlink_spark.catalog.catalog import CommitConflict, FileCatalog
from moonlink_spark.operators.alter import alter_table
from moonlink_spark.operators.expire import expire_snapshots
from moonlink_spark.operators.manifest_rewrite import rewrite_manifests
from moonlink_spark.sources.fixtures import create_images_table, generate_images_df


def _fresh(spark, n, prefix):
    return generate_images_df(spark, n, seed=7).withColumn(
        "image_id", F.concat(F.lit(prefix), F.col("image_id"))
    )


def _after_first(monkeypatch, owner, name, action):
    """Wrap owner.name so that its first call (outside *action* itself) runs
    *action* once its result is in hand; return the list of calls made
    outside *action*."""
    orig = getattr(owner, name)
    calls: list[int] = []
    busy = [False]

    def wrapped(*a, **k):
        out = orig(*a, **k)
        if busy[0]:
            return out
        calls.append(1)
        if len(calls) == 1 and action is not None:
            busy[0] = True
            try:
                action()
            finally:
                busy[0] = False
        return out

    monkeypatch.setattr(owner, name, wrapped)
    return calls


def _append_once(spark, t, n=10):
    return lambda: t.append(_fresh(spark, n, "race-"), run_id="race")


def test_create_tag_retries_onto_the_appended_snapshot(spark, tmp_path, monkeypatch):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    _after_first(monkeypatch, FileCatalog, "load_pinned", _append_once(spark, t))
    sid = t.create_tag("v1")
    monkeypatch.undo()
    assert sid == t.current_snapshot_id() == t.refs()["v1"]
    assert t.scan(ref="v1").count() == 110


def test_rewrite_manifests_keeps_a_concurrent_append(spark, tmp_path, monkeypatch):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    _after_first(monkeypatch, table_mod, "read_data_manifests", _append_once(spark, t))
    rewrite_manifests(t)
    monkeypatch.undo()
    assert t.meta.current_snapshot().operation == "rewrite-manifests"
    assert t.scan().count() == 110


def test_alter_table_keeps_a_concurrent_append(spark, tmp_path, monkeypatch):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    _after_first(monkeypatch, table_mod, "read_data_manifests", _append_once(spark, t))
    alter_table(t, add_columns=[T.StructField("score", T.IntegerType(), True)])
    monkeypatch.undo()
    assert t.meta.current_snapshot().operation == "alter"
    assert t.scan(columns=["image_id", "score"]).count() == 110


def test_expire_snapshots_retries_a_lost_cas(spark, tmp_path, monkeypatch):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    t.append(_fresh(spark, 5, "pre-"), run_id="pre")
    first = t.meta.snapshots[0].snapshot_id
    pins = _after_first(monkeypatch, FileCatalog, "load_pinned", _append_once(spark, t))
    expired = expire_snapshots(t, retain_last=1)
    monkeypatch.undo()
    assert len(pins) == 2  # the lost CAS, then the retry on fresh state
    assert first in expired
    assert [s.snapshot_id for s in t.snapshots()] == [t.current_snapshot_id()]
    assert t.scan().count() == 115


def _one_pin_refusal(monkeypatch, call):
    pins = _after_first(monkeypatch, FileCatalog, "load_pinned", None)
    with pytest.raises(CommitConflict):
        call()
    monkeypatch.undo()
    assert len(pins) == 1


def test_refusals_raise_after_one_pin(spark, tmp_path, monkeypatch):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    base = t.current_snapshot_id()
    t.create_branch("dev")
    t.append(_fresh(spark, 10, "br-"), run_id="b1", branch="dev")
    staged = t.append(_fresh(spark, 10, "wap-"), run_id="s1", stage_only=True)
    t.append(_fresh(spark, 10, "main-"), run_id="m1")  # main moves on

    # dev's head is a descendant of base, not the other way round
    _one_pin_refusal(monkeypatch, lambda: t.advance_branch("dev", base))
    # main moved past dev's fork point
    _one_pin_refusal(monkeypatch, lambda: t.fast_forward_main("dev"))
    # the stage's parent is no longer current
    _one_pin_refusal(monkeypatch, lambda: t.publish_snapshot(staged))


def test_noop_edits_write_no_version(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 100, seed=42)
    t.create_tag("v1")
    t.create_branch("dev")
    staged = t.append(_fresh(spark, 10, "wap-"), run_id="s1", stage_only=True)
    t.publish_snapshot(staged)
    v = t.catalog.current_version()

    assert t.create_tag("v1", t.refs()["v1"]) == t.refs()["v1"]
    assert t.advance_branch("dev", t.branches()["dev"]) == t.branches()["dev"]
    assert t.publish_snapshot(staged) == staged
    assert t.catalog.current_version() == v
