"""Seeded chaos testing with deterministic replay (SURVEY.md §5.3 analog of
moonlink's chaos_test.rs / replay_events.rs): a randomized interleaving of
CDC merges and maintenance ops, driven purely by a seed, must

  1. end in exactly the LWW-oracle row set (invariant: maintenance never
     changes visible rows; merges apply in LSN order),
  2. replay bit-identically — same seed -> same snapshots, same file names,
     same file sizes and row counts,
  3. be idempotent under re-run of any completed step's run_id.

Plus the catalog CAS: two writers racing the same expected version — one
must lose with CommitConflict (file_catalog.rs etag semantics).
"""

import os
import random

import pytest

from pyspark.sql import functions as F

from moonlink_spark.catalog.catalog import CommitConflict
from moonlink_spark.operators import (
    CompactionConfig,
    cluster,
    compact,
    expire_snapshots,
    merge_into,
    sweep_orphans,
)
from moonlink_spark.operators.merge import last_writer_wins
from moonlink_spark.sources.fixtures import (
    create_images_table,
    generate_changes_df,
    generate_images_df,
)

N_BASE = 1_200
STEPS = 6
COLS = ["image_id", "w", "h", "fmt", "caption", "phash"]


def _run_scenario(spark, root, seed):
    """Execute the seeded interleaving; returns (table, merge_batches)."""
    from moonlink_spark.operators.optimize import optimize

    rng = random.Random(seed)
    t = create_images_table(spark, root, N_BASE, seed=42)
    batches = []
    for step in range(STEPS):
        action = rng.choice(
            ["merge", "merge", "merge", "compact", "cluster", "expire", "fused",
             "incremental", "tag", "branch", "export"]
        )
        rid = f"s{step}"
        if action == "merge":
            n = rng.randint(40, 120)
            lsn_start = 1_000_000 * (step + 1)  # disjoint, increasing LSN bands
            ch = generate_changes_df(spark, N_BASE, n, seed=seed * 101 + step,
                                     lsn_start=lsn_start)
            batches.append(ch)
            merge_into(t, ch, run_id=rid)
        elif action == "compact":
            compact(t, CompactionConfig(mode="force_regular", min_files=2), run_id=rid)
        elif action == "cluster":
            curve = rng.choice(["zorder", "hilbert"])
            cluster(t, by=["phash", "w", "h"], curve=curve, run_id=rid)
        elif action == "fused":
            optimize(t, mode="full", cluster_by=["phash", "w", "h"], run_id=rid)
        elif action == "incremental":
            # layout-only like cluster: may be a no-op when everything is
            # already on the curve — both outcomes must replay identically
            cluster(t, by=["phash", "w", "h"], run_id=rid, scope="incremental")
        elif action == "tag":
            # metadata-only: pin the current snapshot (dropping any earlier
            # pin so expire pressure stays deterministic per seed)
            for name in list(t.refs()):
                t.drop_tag(name)
            t.create_tag(f"chk-{step}")
        elif action == "branch":
            # visible-rows-neutral: a staged branch write never touches
            # main; dropping the branch releases its files to later sweeps
            name = f"br-{step}"
            t.create_branch(name)
            extra = generate_images_df(spark, 30, seed=seed * 7 + step).withColumn(
                "image_id", F.concat(F.col("image_id"), F.lit(f"-br{step}"))
            )
            t.append(extra, run_id=f"{rid}-b", branch=name)
            assert t.scan(ref=name).count() == t.scan().count() + 30
            t.drop_branch(name)
        elif action == "export":
            # Iceberg export mid-chaos: the spec reader must agree with the
            # native scan at every randomly-chosen point (no pin: expire
            # pressure stays deterministic per seed, mirror is throwaway)
            from moonlink_spark.iceberg import export_iceberg, read_iceberg_scan

            mirror = os.path.join(f"{root}-mirrors", f"mirror-{step}")
            export_iceberg(t, mirror, pin_source=False)
            assert read_iceberg_scan(spark, mirror).count() == t.scan().count()
        else:
            expire_snapshots(t, retain_last=2)
            sweep_orphans(t, quarantine=False, older_than_seconds=0)
    return t, batches


def _oracle_rows(spark, batches):
    base = generate_images_df(spark, N_BASE, seed=42).withColumn(
        "op", F.lit("I")
    ).withColumn("lsn", F.lit(0).cast("long"))
    allr = base
    for ch in batches:
        allr = allr.unionByName(ch.select(*base.columns))
    final = last_writer_wins(allr, "image_id").filter(F.col("op") != "D")
    return sorted(tuple(r) for r in final.select(COLS).collect())


def _layout(t):
    return sorted(
        (os.path.basename(f.file_path), f.record_count, f.file_size_bytes)
        for f in t.data_files()
    )


@pytest.mark.parametrize("seed", [1337, 4242])
def test_chaos_invariants_and_replay(spark, tmp_path, seed):
    t1, batches = _run_scenario(spark, str(tmp_path / "a"), seed)
    got = sorted(tuple(r) for r in t1.scan(columns=COLS).collect())
    assert got == _oracle_rows(spark, batches)

    # deterministic replay: identical snapshots, file names, sizes, rows
    t2, _ = _run_scenario(spark, str(tmp_path / "b"), seed)
    assert _layout(t1) == _layout(t2)
    assert [s.operation for s in t1.snapshots()] == [s.operation for s in t2.snapshots()]
    got2 = sorted(tuple(r) for r in t2.scan(columns=COLS).collect())
    assert got == got2


def test_merge_rerun_idempotent(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 800, seed=42)
    ch = generate_changes_df(spark, 800, 120, seed=7)
    ch.cache()
    merge_into(t, ch, run_id="m1")
    want = sorted(tuple(r) for r in t.scan(columns=COLS).collect())
    # driver died after commit, retry replays the same run_id
    merge_into(t, ch, run_id="m1")
    ch.unpersist()
    got = sorted(tuple(r) for r in t.scan(columns=COLS).collect())
    assert got == want
    paths = [f.file_path for f in t.data_files()]
    assert len(paths) == len(set(paths))  # no double-committed files


def test_catalog_cas_conflict(spark, tmp_path):
    t = create_images_table(spark, str(tmp_path / "t"), 400, seed=42)
    meta = t.catalog.load()
    v = t.catalog.current_version()
    t.catalog.commit(meta, expected_version=v)  # writer A wins
    with pytest.raises(CommitConflict):
        t.catalog.commit(meta, expected_version=v)  # writer B must lose


def test_maintenance_mutual_exclusion(spark, tmp_path):
    from moonlink_spark.table import MaintenanceInProgress

    t = create_images_table(spark, str(tmp_path / "t"), 600, seed=42)
    with t.maintenance_lock("compact", "r1"):
        with pytest.raises(MaintenanceInProgress):
            cluster(t, by=["phash", "w", "h"], run_id="r2")
        # re-entrant for the SAME run_id (resume path)
        with t.maintenance_lock("compact", "r1"):
            pass
    # released: next job proceeds
    cluster(t, by=["phash", "w", "h"], run_id="r3")
    assert t.scan().count() == 600


def test_merge_probe_prunes_by_key_stats(spark, tmp_path):
    """On a key-clustered layout the MERGE probe must skip files whose
    manifest [min,max] key range can't contain any change key."""
    import pyspark.sql.types as T

    from moonlink_spark.table import MoonTable

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = MoonTable.create(spark, str(tmp_path / "t"), schema, key_columns=["image_id"])
    # 4 range-partitioned files: ids k000..k099 / k100..k199 / ...
    df = spark.range(0, 400).select(
        F.format_string("k%03d", F.col("id")).alias("image_id"),
        F.col("id").alias("v"),
    ).withColumn("_bin", (F.col("v") / 100).cast("int"))
    t.append(df, num_bins=4)
    assert len(t.data_files()) == 4

    # change batch touches only the first range
    ch = spark.range(0, 10).select(
        F.lit("U").alias("op"),
        (F.col("id") + 100).cast("long").alias("lsn"),
        F.format_string("k%03d", F.col("id")).alias("image_id"),
        (F.col("id") + 1000).alias("v"),
    )
    merge_into(t, ch, run_id="m1")
    s = t.meta.current_snapshot().summary
    assert s["total-files"] == 4
    assert s["probed-files"] == 1  # three files pruned by key-range stats
    assert s["matched-keys"] == 10
    got = {r["image_id"]: r["v"] for r in t.scan().collect()}
    assert got["k005"] == 1005 and got["k105"] == 105 and len(got) == 400
