"""Physical-plan audits: the properties that make the engine viable at
100 TB, asserted against the ACTUAL executed plans (not just results) —
column pruning to the parquet scan, filter pushdown, JVM-only hot paths,
and byte-gated broadcast choices."""

from pyspark.sql import functions as F

from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df


def _plan(df, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_scan_pushes_filters_and_prunes_columns(spark, tmp_table_root):
    """A filtered 2-column projection over the table must reach the parquet
    scan as PushedFilters + a ReadSchema WITHOUT the wide binary payload."""
    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    df = t.scan(columns=["image_id", "phash"]).filter(F.col("phash") > 0)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "GreaterThan(phash" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "bytes" not in read_schema  # payload pruned at the scan
    assert "image_id" in read_schema and "phash" in read_schema


def test_merge_probe_never_reads_payload(spark, tmp_table_root):
    """The MERGE position probe ('the join is the index') must read ONLY the
    key column + _metadata — image bytes never leave the parquet footprint."""
    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    probe = t.scan(with_position=True, columns=["image_id", "_fp", "_pos"])
    read_schema = [ln for ln in _plan(probe).splitlines() if "ReadSchema" in ln][0]
    assert "image_id" in read_schema
    for payload in ("bytes", "caption", "phash", "fmt"):
        assert payload not in read_schema, read_schema


def test_zorder_assignment_stays_jvm_side(spark, tmp_table_root):
    """Native Z-order path (small boundary counts): no Python evaluation
    node anywhere in the plan — key, boundary search, and salt are codegen."""
    from moonlink_spark.operators.clustering import _plan as plan_cluster
    from moonlink_spark.operators.clustering import assign_keys_and_bins

    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    cp = plan_cluster(t, "audit1", ["phash", "w", "h"], "zorder", 64 * 1024, 16)
    df = assign_keys_and_bins(t.scan(), cp, key_col="image_id")
    plan = _plan(df, mode="extended")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted plans star-mark whole-stage-codegen'd operators
    assert "* Project" in _plan(df)


def test_merge_change_keys_are_broadcast(spark, tmp_table_root):
    """Small change batches must probe via a broadcast join (no shuffle of
    the billion-row target side)."""
    from moonlink_spark.operators.merge import last_writer_wins

    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    changes = generate_changes_df(spark, 400, 60, seed=3)
    final = last_writer_wins(changes, "image_id")
    target = t.scan(with_position=True, columns=["image_id", "_fp", "_pos"])
    joined = target.join(F.broadcast(final.select("image_id")), "image_id", "left_semi")
    assert "BroadcastHashJoin" in _plan(joined)


def test_delete_antijoin_broadcast_gated_by_positions(spark, tmp_table_root):
    """The scan-side bitmap anti-join broadcasts the bitmap rows from a
    LocalTableScan when their decoded size bound (bitmap rows × scanned
    positions / 8) is small, and must NOT broadcast when it would be huge.
    Neither side expands a bitmap into positions (no Generate)."""
    from moonlink_spark.catalog.metadata import DeleteFile
    from moonlink_spark.operators.merge import merge_into

    t = create_images_table(spark, tmp_table_root, 400, seed=42)
    merge_into(t, generate_changes_df(spark, 400, 60, seed=42), run_id="m1")
    dfiles = t.delete_files()
    assert dfiles and all(d.format == "bitmap" for d in dfiles)
    plan = _plan(t.scan(columns=["image_id"]).filter(F.col("image_id") != "x").groupBy().count())
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan
    tree = plan.split("\n\n")[0].splitlines()
    exchange = next(i for i, ln in enumerate(tree) if "BroadcastExchange" in ln)
    assert "LocalTableScan" in tree[exchange + 1], tree

    # same files, metadata claiming billions of bitmap rows: the gate must
    # FORCE a shuffled join — Spark's own estimator only sees the tiny
    # at-rest bitmap and would happily broadcast it
    huge = [
        DeleteFile(
            file_path=d.file_path, record_count=10_000_000_000,
            file_size_bytes=d.file_size_bytes, format="bitmap",
            position_count=d.position_count,
        )
        for d in dfiles
    ]
    files = t.data_files()
    joined = t.join_deletes(t._read_data(files, with_position=True), files, huge)
    plan = _plan(joined)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "Generate" not in plan


def test_scan_reads_no_positions_when_no_dv_targets_its_files(spark, tmp_path):
    """A deletion vector on file A only: a scan of file B plans no
    _metadata/row_index column and no join, and returns B's rows; a scan of
    A still joins its bitmap rows."""
    import pyspark.sql.types as T

    from moonlink_spark.operators.merge import merge_into
    from moonlink_spark.table import MoonTable

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = MoonTable.create(spark, str(tmp_path / "t"), schema, key_columns=["image_id"])
    for lo in (0, 100):
        t.append(spark.range(lo, lo + 100).select(
            F.format_string("k%04d", F.col("id")).alias("image_id"), F.col("id").alias("v"),
        ).coalesce(1))
    by_min = sorted(t.data_files(), key=lambda f: f.stats["image_id"]["min"])
    a, b = by_min
    b_rows = sorted(tuple(r) for r in t.scan(files=[b]).collect())
    merge_into(t, spark.createDataFrame([("U", 10, "k0005", 5005)],
                                        "op string, lsn long, image_id string, v long"))
    assert len(t.delete_files()) == 1

    scan_b = t.scan(files=[b])
    plan = _plan(scan_b)
    assert "_metadata" not in plan and "row_index" not in plan, plan
    assert "Join" not in plan, plan
    assert sorted(tuple(r) for r in scan_b.collect()) == b_rows
    assert "Join" in _plan(t.scan(files=[a]))
    assert t.scan(files=[a]).count() == 99


def test_clustering_amplifies_file_skipping(spark, tmp_table_root):
    """Before clustering (hash-random layout) a phash range prunes almost
    nothing — every file spans the key space. After the Z-order rewrite each
    file covers a tight range, so the same predicate skips most files from
    manifest stats alone."""
    from moonlink_spark.operators.clustering import cluster

    t = create_images_table(spark, tmp_table_root, 2000, seed=42)
    lo, hi = 1 << 58, (1 << 58) + (1 << 55)  # narrow slab (~3% of key space)
    before_all = len(t.data_files())
    before = len(t.plan_files({"phash": (lo, hi)}))
    assert before >= before_all * 0.9  # random layout: nothing skippable

    # 3-dim Z-order: per-dim spans dilute to ~(1/n)^(1/3) and Morton bins
    # crossing high-bit boundaries span wide phash ranges — assert a strict
    # improvement, not perfection
    cluster(t, by=["phash", "w", "h"], curve="zorder", run_id="z1",
            target_bytes=64 * 1024)
    after_all = len(t.data_files())
    after = len(t.plan_files({"phash": (lo, hi)}))
    assert after <= int(after_all * 0.8), (after, after_all)

    # 1-D cluster on phash = disjoint key ranges per file: pruning is crisp
    cluster(t, by=["phash"], curve="zorder", run_id="z2", target_bytes=64 * 1024)
    one_all = len(t.data_files())
    one = len(t.plan_files({"phash": (lo, hi)}))
    assert one <= max(2, one_all // 5), (one, one_all)

    # pruned scan + residual filter == full scan + filter (no rows lost)
    full = t.scan(columns=["image_id", "phash"]).filter(
        F.col("phash").between(lo, hi)
    )
    pruned = t.scan(
        files=t.plan_files({"phash": (lo, hi)}), columns=["image_id", "phash"]
    ).filter(F.col("phash").between(lo, hi))
    assert sorted(r["image_id"] for r in pruned.collect()) == sorted(
        r["image_id"] for r in full.collect()
    )


def test_iceberg_reader_plan_shape(spark, tmp_path):
    """The spec reader's scan must behave like the native one at scale:
    column pruning + filter pushdown reach the parquet scan, and the small
    position-delete side is broadcast for the anti-join (no shuffle of the
    data side)."""
    from moonlink_spark.iceberg import export_iceberg, read_iceberg_scan
    from moonlink_spark.operators.merge import merge_into

    t = create_images_table(spark, str(tmp_path / "t"), 400, seed=42)
    merge_into(t, generate_changes_df(spark, 400, 80, seed=42), run_id="m1")
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)

    df = read_iceberg_scan(spark, dest, columns=["image_id", "phash"]).filter(
        F.col("phash") > 0
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "GreaterThan(phash" in plan
    data_reads = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "icedel" not in ln and "2147483546" not in ln
    ]
    assert data_reads and all("bytes" not in ln for ln in data_reads)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
