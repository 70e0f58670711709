"""Multi-writer behaviour: merge vs maintenance serialization, additive CAS
rebase, lock recovery after a crashed run, and flush-lsn monotonicity.

Moonlink serializes every table event through one per-table event loop
(table_handler.rs:202-218); the multi-process analogs here are (a) the
advisory maintenance lock taken by merge/compact/cluster and (b) the
catalog CAS with a rebase-retry for purely-additive commits
(file_catalog.rs:639-665 etag-retry semantics)."""

import json
import os
import threading

import pytest

from pyspark.sql import functions as F

from moonlink_spark.operators.compaction import CompactionConfig, compact
from moonlink_spark.operators.merge import last_writer_wins, merge_into
from moonlink_spark.sources.fixtures import (
    create_images_table,
    generate_changes_df,
    generate_images_df,
)

COLS = ["image_id", "caption", "phash"]
N = 800


def _rows(table):
    return sorted(tuple(r) for r in table.scan(columns=COLS).collect())


def _lww_oracle(spark, table, changes):
    base = table.scan(snapshot_id=table.snapshots()[0].snapshot_id)
    allr = base.withColumn("op", F.lit("I")).withColumn("lsn", F.lit(0).cast("long")) \
        .select(*changes.columns)
    final = last_writer_wins(allr.union(changes), "image_id")
    return sorted(
        tuple(r)
        for r in final.filter(F.col("op") != "D").select(*COLS).collect()
    )


def test_merge_vs_compact_two_threads(spark, tmp_path):
    """A merge and a compaction launched concurrently must serialize on the
    maintenance lock: whichever loses the race blocks (not errors), and the
    final row set is exactly the LWW oracle — no resurrected victims, no
    dropped outputs."""
    table = create_images_table(spark, str(tmp_path / "t"), N, seed=42)
    changes = generate_changes_df(spark, N, 120, seed=7)
    changes.cache()
    oracle = _lww_oracle(spark, table, changes)

    errs = []
    start = threading.Barrier(2)

    def _merge():
        try:
            start.wait()
            merge_into(table, changes, run_id="m1", lock_wait_seconds=120)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def _compact():
        try:
            start.wait()
            compact(
                table,
                CompactionConfig(mode="force_full", target_bytes=64 * 1024),
                run_id="c1",
                lock_wait_seconds=120,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=_merge), threading.Thread(target=_compact)]
    [t.start() for t in ts]
    [t.join(timeout=600) for t in ts]
    changes.unpersist()
    assert not errs, errs
    # both committed, in either order
    ops = [s.operation for s in table.snapshots()]
    assert "merge" in ops and "compact" in ops
    assert _rows(table) == oracle
    # lock released
    assert not os.path.exists(
        os.path.join(table.catalog.metadata_dir, "maintenance.lock")
    )


def test_concurrent_appends_cas_rebase(spark, tmp_path):
    """Two lock-free appends racing the catalog CAS: the loser rebases on
    fresh state and re-commits; both file sets land, nothing is clobbered."""
    table = create_images_table(spark, str(tmp_path / "t"), 300, seed=42)
    a = generate_images_df(spark, 100, seed=1).withColumn(
        "image_id", F.concat(F.lit("a-"), F.col("image_id"))
    )
    b = generate_images_df(spark, 150, seed=2).withColumn(
        "image_id", F.concat(F.lit("b-"), F.col("image_id"))
    )

    errs = []
    start = threading.Barrier(2)

    def _append(df, rid):
        try:
            start.wait()
            table.append(df, run_id=rid)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=_append, args=(a, "ra")),
        threading.Thread(target=_append, args=(b, "rb")),
    ]
    [t.start() for t in ts]
    [t.join(timeout=600) for t in ts]
    assert not errs, errs
    assert table.scan().count() == 300 + 100 + 150
    paths = [f.file_path for f in table.data_files()]
    assert len(paths) == len(set(paths))


def test_crashed_run_lock_recovery(spark, tmp_path):
    """A lock file left behind by a crashed run: the SAME run_id re-acquires,
    takes ownership, and RELEASES on exit — other jobs proceed afterwards
    (previously the resumed run never unlinked and the table was wedged)."""
    table = create_images_table(spark, str(tmp_path / "t"), 300, seed=42)
    lock_path = os.path.join(table.catalog.metadata_dir, "maintenance.lock")
    with open(lock_path, "w") as f:  # simulate a crash mid-run
        json.dump({"job": "compact", "run_id": "crashed"}, f)

    sid = compact(
        table, CompactionConfig(mode="force_full", target_bytes=64 * 1024),
        run_id="crashed",
    )
    assert sid is not None
    assert not os.path.exists(lock_path)  # resumed run released its own lock
    # table is not wedged: a different run acquires cleanly
    with table.maintenance_lock("compact", "next"):
        pass


def test_commit_conflict_on_stale_parent(spark, tmp_path):
    """commit_snapshot(expected_parent_snapshot=...) must fail when the
    current snapshot moved after planning (defense-in-depth under the lock)."""
    from moonlink_spark.catalog.catalog import CommitConflict

    table = create_images_table(spark, str(tmp_path / "t"), 300, seed=42)
    planned_against = table.current_snapshot_id()
    # someone else commits in the plan->commit window
    table.append(generate_images_df(spark, 50, seed=3).withColumn(
        "image_id", F.concat(F.lit("x-"), F.col("image_id"))), run_id="other")
    with pytest.raises(CommitConflict):
        table.commit_snapshot(
            "merge", table.data_files(), table.delete_files(),
            expected_parent_snapshot=planned_against,
        )


def test_flush_lsn_monotonic(spark, tmp_table_root):
    """An empty batch or an out-of-order batch with lower LSNs must never
    regress the flush-lsn: scan_at_lsn(X) may only show rows with lsn ≤ X."""
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    changes = generate_changes_df(spark, 300, 60, seed=9, lsn_start=5_000_000)
    merge_into(table, changes, run_id="hi")
    hi_lsn = table.current_flush_lsn()
    assert hi_lsn >= 5_000_000
    rows_at_hi = sorted(tuple(r) for r in table.scan_at_lsn(hi_lsn, columns=COLS).collect())

    # empty batch: flush-lsn must NOT regress to 0
    empty = changes.filter(F.lit(False))
    merge_into(table, empty, run_id="empty")
    assert table.current_flush_lsn() == hi_lsn

    # late pickup of an older CDC file (max lsn below hi): clamp holds
    late = generate_changes_df(spark, 300, 40, seed=11, lsn_start=1_000)
    merge_into(table, late, run_id="late")
    assert table.current_flush_lsn() == hi_lsn
    # read at hi_lsn resolves (and includes the late rows, which all carry
    # lsn < hi — nothing with lsn > hi can appear)
    got = table.scan_at_lsn(hi_lsn, columns=COLS)
    assert got.count() >= len(rows_at_hi) - 40


def test_three_interleaved_merges_converge(spark, tmp_path):
    """Three writers merge KEY-disjoint slices of one CDC batch from three
    threads (distinct run_ids, racing for the lock). Key-disjoint because a
    merge applies its batch unconditionally over the table state (CDC
    batches arrive in LSN order per key, as in moonlink's event stream) —
    with disjoint keys the apply order across writers provably can't
    matter, so the final row set must equal applying the WHOLE batch once."""
    table = create_images_table(spark, str(tmp_path / "t"), N, seed=42)
    changes = generate_changes_df(spark, N, 150, seed=13)
    changes.cache()
    oracle = _lww_oracle(spark, table, changes)

    slices = [
        changes.filter(F.pmod(F.xxhash64("image_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    errs = []
    start = threading.Barrier(3)

    def _merge(df, rid):
        try:
            start.wait()
            merge_into(table, df, run_id=rid, lock_wait_seconds=300)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=_merge, args=(s, f"w{i}"))
        for i, s in enumerate(slices)
    ]
    [t.start() for t in ts]
    [t.join(timeout=900) for t in ts]
    changes.unpersist()
    assert not errs, errs
    assert [s.operation for s in table.snapshots()].count("merge") == 3
    assert _rows(table) == oracle


def test_lock_ttl_breaks_dead_holder(spark, tmp_path):
    """A lock whose heartbeat (mtime) is older than the TTL belongs to a
    presumed-dead holder (kill -9, node loss): an acquirer with a DIFFERENT
    run_id breaks it and proceeds — maintenance is never wedged forever."""
    table = create_images_table(spark, str(tmp_path / "t"), 200, seed=42)
    lock_path = os.path.join(table.catalog.metadata_dir, "maintenance.lock")
    with open(lock_path, "w") as f:  # dead holder: never heartbeats again
        json.dump({"job": "compact", "run_id": "dead", "pid": 999999}, f)
    stale = os.stat(lock_path).st_mtime - 3600
    os.utime(lock_path, (stale, stale))

    with table.maintenance_lock("merge", "alive", ttl_seconds=5.0):
        with open(lock_path) as f:
            assert json.load(f)["run_id"] == "alive"
    assert not os.path.exists(lock_path)


def test_lock_heartbeat_protects_live_holder(spark, tmp_path):
    """A LIVE holder whose job outlasts the TTL is protected by the
    heartbeat thread (mtime refreshed every ttl/4): a second acquirer keeps
    seeing a fresh heartbeat and must wait/raise, never break."""
    import time

    from moonlink_spark.table import MaintenanceInProgress

    table = create_images_table(spark, str(tmp_path / "t"), 200, seed=42)
    with table.maintenance_lock("compact", "holder", ttl_seconds=0.4):
        time.sleep(1.0)  # several TTLs elapse; heartbeat keeps it alive
        with pytest.raises(MaintenanceInProgress):
            with table.maintenance_lock("merge", "intruder", ttl_seconds=0.4):
                pass
    # released: a new acquirer proceeds
    with table.maintenance_lock("merge", "after", ttl_seconds=0.4):
        pass


def test_merge_concurrent_append_overlap_raises(spark, tmp_path):
    """A lock-free append landing in the merge's plan->commit window with
    keys inside the batch's range must FAIL the merge retryably (folding it
    in unprobed could leave two live rows for one key); the retry probes the
    appended file and converges to a duplicate-free state."""
    from moonlink_spark.operators.merge import ConcurrentAppendOverlap

    table = create_images_table(spark, str(tmp_path / "t"), 300, seed=42)
    changes = generate_changes_df(spark, 300, 60, seed=42)
    changes.cache()
    # fresh unique keys INSIDE the batch's key range (ids embed the seed, so
    # a "-s" suffix on seed-42 ids sorts between existing seed-42 ids)
    sneak = generate_images_df(spark, 40, seed=42).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("-s"))
    )

    orig = table.commit_snapshot
    fired = {"v": False}

    def hooked(*a, **k):
        if not fired["v"] and a and a[0] == "merge":
            fired["v"] = True
            table.commit_snapshot = orig  # the sneak append commits normally
            table.append(sneak, run_id="sneak")
            table.commit_snapshot = hooked
        return orig(*a, **k)

    table.commit_snapshot = hooked
    try:
        with pytest.raises(ConcurrentAppendOverlap):
            merge_into(table, changes, run_id="race")
    finally:
        table.commit_snapshot = orig
    assert fired["v"]

    # retry with the SAME run_id: fresh probe sees the appended file
    merge_into(table, changes, run_id="race")
    changes.unpersist()
    dupes = (
        table.scan(columns=["image_id"])
        .groupBy("image_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_merge_nonoverlapping_append_folds(spark, tmp_path):
    """An append OUTSIDE the batch's key range is provably safe to fold in:
    the merge commits first try and the appended rows survive."""
    table = create_images_table(spark, str(tmp_path / "t"), 300, seed=42)
    changes = generate_changes_df(spark, 300, 60, seed=42)
    changes.cache()
    sneak = generate_images_df(spark, 40, seed=42).withColumn(
        "image_id", F.concat(F.lit("zzz-"), F.col("image_id"))
    )

    orig = table.commit_snapshot
    fired = {"v": False}

    def hooked(*a, **k):
        if not fired["v"] and a and a[0] == "merge":
            fired["v"] = True
            table.commit_snapshot = orig
            table.append(sneak, run_id="sneak2")
            table.commit_snapshot = hooked
        return orig(*a, **k)

    table.commit_snapshot = hooked
    try:
        merge_into(table, changes, run_id="fold")
    finally:
        table.commit_snapshot = orig
    assert fired["v"]
    changes.unpersist()
    assert (
        table.scan(columns=["image_id"])
        .filter(F.col("image_id").startswith("zzz-"))
        .count()
        == 40
    )


def test_lock_lost_holder_does_not_release_usurper(spark, tmp_path):
    """Ownership guard (round-4 ADVICE): a holder stalled past the TTL has
    its lock broken and re-acquired by another run. When the stalled holder
    resumes, its release must NOT unlink the usurper's lock — otherwise a
    third job could acquire and run concurrently with the second."""
    table = create_images_table(spark, str(tmp_path / "t"), 200, seed=42)
    lock_path = os.path.join(table.catalog.metadata_dir, "maintenance.lock")

    cm = table.maintenance_lock("compact", "stalled", ttl_seconds=3600)
    cm.__enter__()
    # Simulate the stall + TTL break: another run replaces the lock file
    # (atomic-rename break followed by its own O_EXCL acquire).
    os.unlink(lock_path)
    with open(lock_path, "w") as f:
        json.dump({"job": "merge", "run_id": "usurper", "pid": 12345}, f)

    cm.__exit__(None, None, None)  # stalled holder resumes and "releases"

    # The usurper's lock must survive the stalled holder's exit.
    assert os.path.exists(lock_path)
    with open(lock_path) as f:
        assert json.load(f)["run_id"] == "usurper"
    os.unlink(lock_path)


def test_lock_heartbeat_stops_after_usurpation(spark, tmp_path):
    """The stalled holder's heartbeat must not keep the usurper's lock
    artificially fresh: once the payload's run_id no longer matches, the
    heartbeat thread stops touching the file."""
    import time

    table = create_images_table(spark, str(tmp_path / "t"), 200, seed=42)
    lock_path = os.path.join(table.catalog.metadata_dir, "maintenance.lock")

    cm = table.maintenance_lock("compact", "stalled", ttl_seconds=0.2)
    cm.__enter__()
    os.unlink(lock_path)
    with open(lock_path, "w") as f:
        json.dump({"job": "merge", "run_id": "usurper", "pid": 12345}, f)
    old = os.stat(lock_path).st_mtime - 100
    os.utime(lock_path, (old, old))
    mtime_before = os.stat(lock_path).st_mtime

    time.sleep(0.6)  # several heartbeat intervals (ttl/4 = 0.05s)
    assert os.stat(lock_path).st_mtime == mtime_before  # never touched
    cm.__exit__(None, None, None)
    assert os.path.exists(lock_path)
    os.unlink(lock_path)
