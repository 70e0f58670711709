"""Resume / idempotency: a maintenance run killed mid-flight must resume at
partition (bin) granularity and produce the identical committed state
(north rule: "checkpoints per-partition lineage ... resumes idempotently";
reference analog: WAL recovery, wal.rs:1117-1334)."""

import hashlib
import json
import os

from moonlink_spark.operators.compaction import CompactionConfig, compact, plan_compaction
from moonlink_spark.operators.clustering import cluster
from moonlink_spark.operators.expire import expire_snapshots
from moonlink_spark.operators.merge import merge_into
from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

N = 1_500


def _rows(table):
    return sorted(
        tuple(r) for r in table.scan(columns=["image_id", "caption", "phash"]).collect()
    )


def test_compaction_resume_skips_done_bins(spark, tmp_table_root):
    table = create_images_table(spark, tmp_table_root, N, seed=42)
    expected = _rows(table)
    cfg = CompactionConfig(mode="force_full", target_bytes=64 * 1024)

    # phase 1: plan only (simulates a run killed right after planning)
    plan = plan_compaction(table, cfg, run_id="r1")
    assert plan is not None and len(plan.groups) >= 2
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", "r1")
    assert os.path.exists(os.path.join(lineage_dir, "plan.json"))

    # phase 2: full run under the SAME run_id -> must reuse the plan
    sid = compact(table, cfg, run_id="r1")
    assert sid is not None
    plan2 = plan_compaction(table, cfg, run_id="r1")
    assert plan2.groups == plan.groups  # deterministic, reloaded not recomputed
    assert _rows(table) == expected

    # every group has at least one lineage record (oversized groups split
    # into multiple sub-bins, each with its own record)
    recs = [n for n in os.listdir(lineage_dir) if n.startswith("bin-")]
    assert len(recs) >= len(plan.groups)

    # phase 3: re-running the SAME completed run is a no-op on data files:
    # it finds its snapshot in the history, output paths identical
    files_before = sorted(f.file_path for f in table.data_files())
    sid2 = compact(table, cfg, run_id="r1")
    # the second run returns the committed snapshot and commits nothing
    assert sid2 == sid
    files_after = sorted(f.file_path for f in table.data_files())
    assert files_before == files_after
    assert _rows(table) == expected



def test_compaction_resume_of_a_stale_plan_reinserts_nothing(spark, tmp_table_root):
    """A run stopped after planning resumes after another run rewrote the
    same victims: it must not read the no-longer-live victims again."""
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    expected = _rows(table)
    cfg = CompactionConfig(mode="force_full")
    assert plan_compaction(table, cfg, run_id="r1") is not None
    assert compact(table, cfg, run_id="r2") is not None

    compact(table, cfg, run_id="r1")
    assert _rows(table) == expected


def _killed_at_commit(monkeypatch, op):
    """Run *op* until it tries to commit, as if the process died there."""
    from moonlink_spark.table import MoonTable

    def die(*a, **k):
        raise RuntimeError("killed at commit")

    with monkeypatch.context() as m:
        m.setattr(MoonTable, "commit_snapshot", die)
        try:
            op()
        except RuntimeError as e:
            assert str(e) == "killed at commit"
        else:
            raise AssertionError("the op never tried to commit")


def test_compaction_resume_after_another_run_rewrote_its_victims(
    spark, tmp_table_root, monkeypatch
):
    """A run killed after writing its bins resumes after another run
    rewrote the same victims: its bins hold rows the other run's output
    already holds, so it commits nothing."""
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    expected = _rows(table)
    cfg = CompactionConfig(mode="force_full")
    _killed_at_commit(monkeypatch, lambda: compact(table, cfg, run_id="r1"))
    assert compact(table, cfg, run_id="r2") is not None
    sid = table.current_snapshot_id()

    assert compact(table, cfg, run_id="r1") is None
    assert table.current_snapshot_id() == sid
    assert _rows(table) == expected


def test_cluster_resume_after_another_run_rewrote_its_victims(
    spark, tmp_table_root, monkeypatch
):
    """The clustering form of the case above: a killed cluster run whose
    victims a compaction rewrote commits none of its recorded bins."""
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    expected = _rows(table)
    _killed_at_commit(
        monkeypatch, lambda: cluster(table, by=["phash", "w", "h"], run_id="z1")
    )
    assert compact(table, CompactionConfig(mode="force_full"), run_id="r2") is not None
    sid = table.current_snapshot_id()

    assert cluster(table, by=["phash", "w", "h"], run_id="z1") is None
    assert table.current_snapshot_id() == sid
    assert _rows(table) == expected


def _resume_after_a_merge_commits_nothing(spark, monkeypatch, table, op):
    """*op* killed at commit, then a merge, then *op* again: its recorded
    bins predate the merge's deletion vectors, so its plan is stale and
    the resume commits nothing; the table scans as it did before it."""
    _killed_at_commit(monkeypatch, op)
    merge_into(table, generate_changes_df(spark, 300, 60, seed=42), run_id="m1")
    expected, sid = _rows(table), table.current_snapshot_id()

    got = op()
    rows = _rows(table)
    assert len(rows) == len(expected)  # reused stale bins add rows
    assert rows == expected
    assert got is None and table.current_snapshot_id() == sid


def test_compaction_resume_after_a_merge_commits_nothing(spark, tmp_table_root, monkeypatch):
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    cfg = CompactionConfig(mode="force_full")
    _resume_after_a_merge_commits_nothing(
        spark, monkeypatch, table, lambda: compact(table, cfg, run_id="r1")
    )


def test_cluster_resume_after_a_merge_commits_nothing(spark, tmp_table_root, monkeypatch):
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    _resume_after_a_merge_commits_nothing(
        spark, monkeypatch, table, lambda: cluster(table, by=["phash", "w", "h"], run_id="z1")
    )


def _resume_reuses_written_bins(monkeypatch, table, run_id, op):
    """*op* (a full rewrite under *run_id*) killed at commit and run again
    with nothing in between: the commit names the files the killed attempt
    recorded, and the writer skipped them (mtimes unchanged)."""
    expected = _rows(table)
    _killed_at_commit(monkeypatch, op)
    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", run_id)
    written = {}
    for name in os.listdir(lineage_dir):
        if name.startswith("bin-"):
            with open(os.path.join(lineage_dir, name)) as f:
                path = json.load(f)["file_path"]
            written[path] = os.stat(path).st_mtime_ns
    assert len(written) >= 2

    assert op() is not None
    assert {f.file_path: os.stat(f.file_path).st_mtime_ns for f in table.data_files()} == written
    assert _rows(table) == expected


def test_compaction_resume_reuses_split_bins(spark, tmp_table_root, monkeypatch):
    import pyspark.sql.functions as F

    from moonlink_spark.sources.fixtures import generate_images_df

    table = create_images_table(spark, tmp_table_root, 200, seed=42)
    big = generate_images_df(spark, 3000, seed=9).withColumn(
        "image_id", F.concat(F.lit("big-"), F.col("image_id"))
    ).withColumn("_bin", F.lit(0))
    table.append(big, num_bins=1, run_id="bigf")
    huge = max(table.data_files(), key=lambda f: f.file_size_bytes)
    cfg = CompactionConfig(
        mode="force_full", target_bytes=max(16 * 1024, huge.file_size_bytes // 4)
    )
    _resume_reuses_written_bins(
        monkeypatch, table, "sp1", lambda: compact(table, cfg, run_id="sp1")
    )
    # the oversized victim was split: more outputs than the two groups
    assert len(table.data_files()) >= 3


def test_cluster_resume_reuses_written_bins(spark, tmp_table_root, monkeypatch):
    table = create_images_table(spark, tmp_table_root, N, seed=42)
    _resume_reuses_written_bins(
        monkeypatch, table, "z1",
        lambda: cluster(table, by=["phash", "w", "h"], run_id="z1", target_bytes=64 * 1024),
    )


def test_cluster_resume_deterministic(spark, tmp_table_root):
    table = create_images_table(spark, tmp_table_root, N, seed=42)
    merge_into(table, generate_changes_df(spark, N, 200, seed=42), run_id="m1")
    expected = _rows(table)

    sid = cluster(table, by=["phash", "w", "h"], curve="zorder",
                  run_id="z1", target_bytes=64 * 1024)
    assert sid is not None
    assert _rows(table) == expected

    lineage_dir = os.path.join(table.catalog.metadata_dir, "lineage", "z1")
    with open(os.path.join(lineage_dir, "plan.json")) as f:
        plan = json.load(f)
    # salted bins exist for the hot phash prefixes (FIXTURES.md skew)
    assert len(plan["salts"]) >= 1
    # per-bin lineage: files-out + row counts recorded
    recs = [n for n in os.listdir(lineage_dir) if n.startswith("bin-")]
    assert recs
    total = 0
    for n in recs:
        with open(os.path.join(lineage_dir, n)) as f:
            total += json.load(f)["record_count"]
    assert total == len(expected)


def test_merge_lww_adversarial(spark, tmp_table_root):
    """Same-key double update, delete-then-reinsert, delete-of-missing-key —
    engine result must equal the plain-DataFrame LWW oracle."""
    from pyspark.sql import functions as F

    from moonlink_spark.operators.merge import last_writer_wins
    from moonlink_spark.sources.fixtures import generate_images_df

    table = create_images_table(spark, tmp_table_root, N, seed=42)
    changes = generate_changes_df(spark, N, 300, seed=42)
    merge_into(table, changes, run_id="m1")

    base = generate_images_df(spark, N, seed=42).withColumn("op", F.lit("I")).withColumn(
        "lsn", F.lit(0).cast("long"))
    allr = base.unionByName(changes.select(*base.columns))
    oracle = last_writer_wins(allr, "image_id").filter(F.col("op") != "D")
    exp = sorted(tuple(r) for r in oracle.select("image_id", "caption", "phash").collect())
    assert _rows(table) == exp


def test_compaction_splits_oversized_file(spark, tmp_table_root):
    """A single victim far above target (e.g. a huge foreign parquet from
    add_files) must SPLIT into ~target-size pieces written in parallel —
    not one serial-tail task — with rows preserved and a deterministic,
    resumable layout."""
    import pyspark.sql.functions as F

    from moonlink_spark.sources.fixtures import generate_images_df

    table = create_images_table(spark, tmp_table_root, 200, seed=42)
    big = generate_images_df(spark, 3000, seed=9).withColumn(
        "image_id", F.concat(F.lit("big-"), F.col("image_id"))
    ).withColumn("_bin", F.lit(0))
    table.append(big, num_bins=1, run_id="bigf")
    huge = max(table.data_files(), key=lambda f: f.file_size_bytes)
    expected = _rows(table)

    cfg = CompactionConfig(
        mode="force_full", target_bytes=max(16 * 1024, huge.file_size_bytes // 4)
    )
    sid = compact(table, cfg, run_id="sp1")
    assert sid is not None
    assert _rows(table) == expected
    # the oversized victim became multiple ~target outputs
    assert len(table.data_files()) >= 3
    assert all(f.file_path != huge.file_path for f in table.data_files())
    # resume of the completed run reuses every written piece
    files_before = sorted(f.file_path for f in table.data_files())
    compact(table, cfg, run_id="sp1")
    assert sorted(f.file_path for f in table.data_files()) == files_before


def test_merge_writes_partition_lineage(spark, tmp_table_root):
    """Merge checkpoints per-bin lineage for its INSERT writes (bin contents
    are a pure function of the change batch, so resume is safe); the DELETE
    write intentionally has NO lineage — its positions depend on table
    state a concurrent append can change between attempts, so it re-writes
    fully on retry. The skip-on-lineage mechanism itself is exercised by the
    compact/cluster resume tests, which share the same writer."""
    table = create_images_table(spark, tmp_table_root, N, seed=42)
    merge_into(table, generate_changes_df(spark, N, 200, seed=42), run_id="ml1")
    root = os.path.join(table.catalog.metadata_dir, "lineage", "ml1")
    ins = [n for n in os.listdir(os.path.join(root, "inserts")) if n.startswith("bin-")]
    assert ins
    assert not os.path.isdir(os.path.join(root, "deletes"))
    # records round-trip the file entries (path + stats) used on resume
    with open(os.path.join(root, "inserts", ins[0])) as f:
        rec = json.load(f)
    assert os.path.exists(rec["file_path"]) and rec["record_count"] > 0


def _dv_bytes(table, sid) -> dict[str, bytes]:
    out = {}
    for d in table.delete_files(sid):
        with open(d.file_path, "rb") as f:
            out[d.file_path] = f.read()
    return out


def _rerun_changes_nothing(spark, table, rerun, sid):
    """A merge lands after the run that committed *sid*; *rerun* (the same
    run again) must return *sid* and leave every file *sid* references,
    and so its scan, as they were."""
    rows, dvs = table.scan(snapshot_id=sid).count(), _dv_bytes(table, sid)
    assert dvs  # the run carried deletion vectors over to its survivors
    merge_into(
        table, generate_changes_df(spark, 300, 60, seed=42, lsn_start=50_000), run_id="m2"
    )
    head = table.current_snapshot_id()
    got = rerun()
    assert table.scan(snapshot_id=sid).count() == rows
    assert _dv_bytes(table, sid) == dvs
    assert got == sid and table.current_snapshot_id() == head


def test_rerun_of_a_completed_compaction_writes_nothing(spark, tmp_table_root):
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    merge_into(table, generate_changes_df(spark, 300, 60, seed=42), run_id="m1")
    cfg = CompactionConfig(mode="force_regular", max_files=2)
    sid = compact(table, cfg, run_id="c1")
    _rerun_changes_nothing(spark, table, lambda: compact(table, cfg, run_id="c1"), sid)


def test_rerun_of_a_completed_cluster_writes_nothing(spark, tmp_table_root):
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    by = ["phash", "w", "h"]
    cluster(table, by=by, run_id="z0")
    merge_into(table, generate_changes_df(spark, 300, 60, seed=42), run_id="m1")
    sid = cluster(table, by=by, run_id="z1", scope="incremental")
    _rerun_changes_nothing(
        spark, table, lambda: cluster(table, by=by, run_id="z1", scope="incremental"), sid
    )


def _retained_checksums(table) -> dict[str, str]:
    out = {}
    for p in table.all_reachable_paths():
        with open(p, "rb") as f:
            out[p] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_rerun_of_a_compaction_whose_snapshot_expired_is_stale(spark, tmp_table_root):
    """Once a run's snapshot has expired, its run_id no longer finds it in
    the history; its plan's victims are gone, so the re-run commits nothing
    and leaves every file a retained snapshot references as it was."""
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    merge_into(table, generate_changes_df(spark, 300, 60, seed=42), run_id="m1")
    cfg = CompactionConfig(mode="force_regular", max_files=2)
    assert compact(table, cfg, run_id="c1") is not None
    merge_into(
        table, generate_changes_df(spark, 300, 60, seed=42, lsn_start=50_000), run_id="m2"
    )
    expire_snapshots(table, retain_last=1)
    head, sums = table.current_snapshot_id(), _retained_checksums(table)

    got = compact(table, cfg, run_id="c1")
    assert _retained_checksums(table) == sums
    assert got is None and table.current_snapshot_id() == head
