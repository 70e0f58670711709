"""Incremental changelog reads (scan_changes): per-snapshot deltas compose,
updates decompose as D(pre-image)+I(post-image), and layout-only rewrites
(compact/cluster) contribute nothing."""

from conftest import dv_positions
from pyspark.sql import functions as F

from moonlink_spark.operators.changes import scan_changes
from moonlink_spark.operators.clustering import cluster
from moonlink_spark.operators.compaction import CompactionConfig, compact
from moonlink_spark.operators.merge import merge_into
from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

COLS = ["image_id", "caption", "phash"]


def _apply(rows, changes):
    """Replay a changelog onto a key->payload dict."""
    for op, key, payload in changes:
        if op == "D":
            rows.pop(key, None)
        else:
            rows[key] = payload
    return rows


def test_changelog_replay_reconstructs_state(spark, tmp_table_root):
    """Replaying scan_changes(pre, post) onto the pre-snapshot state must
    reproduce the post-snapshot scan exactly — across TWO merges with a
    compaction and a clustering rewrite interleaved (both layout-only)."""
    t = create_images_table(spark, tmp_table_root, 600, seed=42)
    pre = t.current_snapshot_id()

    merge_into(t, generate_changes_df(spark, 600, 100, seed=3), run_id="m1")
    compact(t, CompactionConfig(mode="force_full", target_bytes=64 * 1024), run_id="c1")
    merge_into(t, generate_changes_df(spark, 600, 80, seed=4, lsn_start=9_000_000), run_id="m2")
    cluster(t, by=["phash", "w", "h"], curve="zorder", run_id="z1")

    base = {
        r["image_id"]: (r["caption"], r["phash"])
        for r in t.scan(snapshot_id=pre, columns=COLS).collect()
    }
    ch = scan_changes(t, pre, columns=COLS)
    ordered = sorted(
        (
            (r["_change_snapshot_id"], 0 if r["_change_op"] == "D" else 1,
             r["_change_op"], r["image_id"], (r["caption"], r["phash"]))
            for r in ch.collect()
        )
    )
    replayed = _apply(base, [(op, k, p) for _, _, op, k, p in ordered])
    now = {
        r["image_id"]: (r["caption"], r["phash"])
        for r in t.scan(columns=COLS).collect()
    }
    assert replayed == now


def test_changelog_empty_over_layout_only_span(spark, tmp_table_root):
    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    merge_into(t, generate_changes_df(spark, 400, 60, seed=5), run_id="m1")
    mid = t.current_snapshot_id()
    compact(t, CompactionConfig(mode="force_full", target_bytes=64 * 1024), run_id="c1")
    cluster(t, by=["phash", "w", "h"], curve="zorder", run_id="z1")
    assert scan_changes(t, mid).count() == 0


def test_changelog_update_decomposition(spark, tmp_table_root):
    """An update appears as exactly one D (old payload) + one I (new)."""
    t = create_images_table(spark, tmp_table_root, 300, seed=42)
    pre = t.current_snapshot_id()
    changes = generate_changes_df(spark, 300, 50, seed=42)
    merge_into(t, changes, run_id="m1")
    ch = scan_changes(t, pre, columns=COLS)
    updated_keys = [
        r["image_id"]
        for r in changes.filter(F.col("op") == "U")
        .select("image_id").distinct().limit(5).collect()
    ]
    for k in updated_keys:
        ops = sorted(
            r["_change_op"] for r in ch.filter(F.col("image_id") == k).collect()
        )
        assert ops == ["D", "I"], (k, ops)


def test_bitmap_deletion_vectors_roundtrip_and_size(spark, tmp_table_root):
    """Bitmap DVs: (file_path, pos) -> packed words -> expanded positions is
    lossless, position_count is recorded, and at-rest size stays ~constant
    (bitmap) instead of growing linearly with delete count."""
    import pyarrow as pa

    from moonlink_spark.table import fold_live_positions

    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    target = t.data_files()[0].file_path
    # a heavy delete ratio: 8000 positions against one (synthetic) target
    pos = pa.table({
        "file_path": pa.array([target] * 8000, pa.string()),
        "pos": pa.array(range(0, 16000, 2), pa.int64()),
    })
    dfiles = [t.write_position_deletes(fold_live_positions(pos), run_id="dv1")]
    assert all(d.format == "bitmap" for d in dfiles)
    assert sum(d.position_count for d in dfiles) == 8000
    # at rest: one bitmap row of 16000/64 words ≈ 2KB, far below the ~8000
    # rows the positions form would need
    assert sum(d.file_size_bytes for d in dfiles) < 64 * 1024
    got = sorted(p for _, p in dv_positions(dfiles))
    assert got == list(range(0, 16000, 2))


def test_changelog_at_lsn(spark, tmp_table_root):
    """LSN-addressed changelog: from the first merge's flush-lsn, only the
    second merge's changes appear (same watermark protocol as scan_at_lsn)."""
    from moonlink_spark.operators.changes import scan_changes_at_lsn

    t = create_images_table(spark, tmp_table_root, 300, seed=42)
    merge_into(t, generate_changes_df(spark, 300, 50, seed=42, lsn_start=1_000),
               run_id="m1")
    l1 = t.current_flush_lsn()
    merge_into(t, generate_changes_df(spark, 300, 40, seed=42, lsn_start=9_000_000),
               run_id="m2")
    ch = scan_changes_at_lsn(t, l1, columns=COLS)
    snaps = {r["_change_snapshot_id"] for r in ch.select("_change_snapshot_id").distinct().collect()}
    m2_sid = [s.snapshot_id for s in t.snapshots() if s.summary.get("run_id") == "m2"]
    assert snaps == set(m2_sid)
    assert ch.count() > 0
