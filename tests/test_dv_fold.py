"""Both deletion-vector folds must write the same bitmaps as the numpy fold
the engine first used: the JVM fold in write_position_deletes and the
driver fold a merge uses (fold_live_positions + write_bitmap_file). Same
word array and position count per target file, same at-rest schema, and
read_delete_rows expands them back to the same (file_path, pos) set. The
driver fold also drops positions that prior bitmaps already set. The scan's
bitmap join (join_deletes) deletes exactly the rows the join over those
expanded rows does."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from moonlink_spark.table import MoonTable, fold_live_positions

BITMAP_SCHEMA = "file_path string, words array<bigint>, n_positions long"


def _to_bitmap(pdf: pd.DataFrame) -> pd.DataFrame:
    """The numpy fold the engine used before the JVM one: the reference."""
    pos = np.unique(pdf["pos"].to_numpy().astype(np.int64))
    words = np.zeros(int(pos[-1]) // 64 + 1, dtype=np.uint64)
    np.bitwise_or.at(words, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64))
    return pd.DataFrame(
        {
            "file_path": [str(pdf["file_path"].iloc[0])],
            "words": [words.view(np.int64)],
            "n_positions": [int(len(pos))],
        }
    )


def _cases() -> list[tuple[str, int]]:
    rng = np.random.default_rng(7)
    rows = [("/t/word-edges.parquet", p) for p in (0, 63, 64, 127)]
    rows += [("/t/sparse.parquet", p) for p in (5, 131071)]
    rows += [("/t/dups.parquet", p) for p in (3, 3, 3, 200, 200, 64, 64)]
    for i in range(9):
        for p in rng.integers(0, 5000, size=int(rng.integers(1, 300))):
            rows.append((f"/t/random-{i}.parquet", int(p)))
    return rows


def _table(spark, tmp_path) -> MoonTable:
    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    return MoonTable.create(spark, str(tmp_path / "t"), schema, key_columns=["id"])


def _bitmaps(dfiles) -> dict:
    """{target file: (words, n_positions)} of *dfiles*, checking the at-rest
    schema and that no target file has two rows."""
    expected_schema = to_arrow_schema(T._parse_datatype_string(BITMAP_SCHEMA))
    got = {}
    for d in dfiles:
        tbl = pq.read_table(d.file_path)
        assert tbl.schema.remove_metadata().equals(expected_schema)
        for fp, words, n in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)):
            assert fp not in got  # one bitmap row per target file
            got[fp] = (words, n)
    return got


def _reference(rows) -> dict:
    pdf = pd.DataFrame(rows, columns=["file_path", "pos"])
    return {
        r["file_path"]: (list(r["words"]), r["n_positions"])
        for _, grp in pdf.groupby("file_path")
        for r in _to_bitmap(grp).to_dict("records")
    }


def _positions(rows) -> pa.Table:
    return pa.table({
        "file_path": pa.array([fp for fp, _ in rows], pa.string()),
        "pos": pa.array([p for _, p in rows], pa.int64()),
    })


def test_jvm_fold_matches_numpy_fold(spark, tmp_path):
    t = _table(spark, tmp_path)
    rows = _cases()
    deletes = spark.createDataFrame(rows, "file_path string, pos long")
    dfiles = t.write_position_deletes(deletes, run_id="fold", num_bins=3)
    assert len(dfiles) > 1  # several bins written, each holding whole files

    want = _reference(rows)
    assert _bitmaps(dfiles) == want
    assert sum(d.position_count for d in dfiles) == sum(n for _, n in want.values())

    back = {(r["file_path"], r["pos"]) for r in t.read_delete_rows(dfiles).collect()}
    assert back == set(rows)


def test_driver_fold_matches_numpy_and_jvm_folds(spark, tmp_path):
    t = _table(spark, tmp_path)
    rows = _cases()
    d = t.write_bitmap_file(fold_live_positions(_positions(rows)), run_id="drv")
    assert os.path.basename(d.file_path) == "del-drv-b00000.parquet"
    assert d.format == "bitmap"

    want = _reference(rows)
    got = _bitmaps([d])
    assert got == want
    jvm = t.write_position_deletes(
        spark.createDataFrame(rows, "file_path string, pos long"), run_id="jvm", num_bins=3
    )
    assert got == _bitmaps(jvm)
    assert d.position_count == sum(n for _, n in want.values())
    assert d.record_count == len(want)
    # rows sorted by target file, as the JVM writer's sortWithinPartitions
    assert pq.read_table(d.file_path).column("file_path").to_pylist() == sorted(want)

    back = {(r["file_path"], r["pos"]) for r in t.read_delete_rows([d]).collect()}
    assert back == set(rows)


def test_driver_fold_drops_positions_prior_bitmaps_set(spark, tmp_path):
    t = _table(spark, tmp_path)
    far = 64 * 40 + 2  # word 40, beyond the one-word prior bitmap of short.parquet
    prior_jvm = [("/t/a.parquet", 3), ("/t/a.parquet", 70), ("/t/short.parquet", 1),
                 ("/t/or.parquet", 3), ("/t/dead.parquet", 9), ("/t/untouched.parquet", 0)]
    dv1 = t.write_position_deletes(
        spark.createDataFrame(prior_jvm, "file_path string, pos long"), run_id="p1"
    )
    # a second DV file with another row for or.parquet: its prior set is the
    # OR of both rows
    dv2 = t.write_bitmap_file(fold_live_positions(_positions([("/t/or.parquet", 130)])), "p2")
    prior_files = dv1 + [dv2]

    new = [
        ("/t/a.parquet", 3), ("/t/a.parquet", 5), ("/t/a.parquet", 70), ("/t/a.parquet", 200),
        ("/t/short.parquet", 1), ("/t/short.parquet", far),
        ("/t/or.parquet", 3), ("/t/or.parquet", 130), ("/t/or.parquet", 131),
        ("/t/dead.parquet", 9),
        ("/t/fresh.parquet", 64),
    ]
    touched = {fp for fp, _ in new}
    prior = t.read_bitmap_rows(prior_files, touched)
    assert set(prior.column("file_path").to_pylist()) == touched - {"/t/fresh.parquet"}
    assert prior.column("file_path").to_pylist().count("/t/or.parquet") == 2

    live = [
        ("/t/a.parquet", 5), ("/t/a.parquet", 200),
        ("/t/short.parquet", far),
        ("/t/or.parquet", 131),
        ("/t/fresh.parquet", 64),
    ]
    d = t.write_bitmap_file(fold_live_positions(_positions(new), prior), run_id="m")
    got = _bitmaps([d])
    assert got == _reference(live)  # dead.parquet: every position already set
    assert d.position_count == len(live)

    # the snapshot's deleted set is now the disjoint union of prior and new
    all_rows = t.read_delete_rows(prior_files + [d]).collect()
    pairs = [(r["file_path"], r["pos"]) for r in all_rows]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == set(prior_jvm) | {("/t/or.parquet", 130)} | set(live)


def test_driver_fold_of_no_live_positions_is_empty():
    prior = fold_live_positions(_positions([("/t/a.parquet", 1), ("/t/a.parquet", 2)]))
    out = fold_live_positions(_positions([("/t/a.parquet", 2)]), prior)
    assert out.num_rows == 0
    assert out.schema.equals(fold_live_positions(_positions([])).schema)


def _scan_rows(spark, files):
    """(_fp, _pos) rows for every position of every DataFile in *files*."""
    return spark.createDataFrame(
        [(f.file_path, f.record_count) for f in files], "_fp string, n long"
    ).select("_fp", F.explode(F.sequence(F.lit(0).cast("long"), F.col("n") - 1)).alias("_pos"))


def test_bitmap_join_matches_expanded_join(spark, tmp_path, monkeypatch):
    """join_deletes tests each row's bit against the bitmap rows; it must
    keep (left_anti) and pick (left_semi) exactly the rows the join over the
    expanded (file_path, pos) rows does, on the broadcast and the shuffle
    side."""
    import moonlink_spark.table as table_mod
    from moonlink_spark.catalog.metadata import DataFile

    t = _table(spark, tmp_path)
    rows = _cases()
    dv1 = t.write_position_deletes(
        spark.createDataFrame(rows + [("/t/shared.parquet", 5), ("/t/shared.parquet", 700)],
                              "file_path string, pos long"),
        run_id="dv1", num_bins=2,
    )
    # a second DV file with another row for shared.parquet (overlapping at
    # 700) and for word-edges.parquet: each target's rows OR together
    dv2 = t.write_bitmap_file(fold_live_positions(_positions(
        [("/t/shared.parquet", 6), ("/t/shared.parquet", 700), ("/t/shared.parquet", 1000),
         ("/t/word-edges.parquet", 1)]
    )), run_id="dv2")
    dfiles = dv1 + [dv2]

    # every bitmap's target is scanned past its last word; clean.parquet has
    # no DV row; random-8.parquet has DV rows but is not scanned
    last = {}
    for fp, p in rows + [("/t/shared.parquet", 1000)]:
        last[fp] = max(last.get(fp, 0), p)
    last["/t/clean.parquet"] = 100
    del last["/t/random-8.parquet"]
    files = [DataFile(file_path=fp, record_count=p + 130, file_size_bytes=0)
             for fp, p in sorted(last.items())]
    scan = _scan_rows(spark, files)
    ref = t.read_delete_rows(dfiles)

    def pairs(df):
        return {(r["_fp"], r["_pos"]) for r in df.select("_fp", "_pos").collect()}

    want = {
        how: pairs(scan.join(
            ref, (scan["_fp"] == ref["file_path"]) & (scan["_pos"] == ref["pos"]), how
        ))
        for how in ("left_anti", "left_semi")
    }
    assert ("/t/word-edges.parquet", 1) in want["left_semi"]
    assert ("/t/word-edges.parquet", 128) in want["left_anti"]  # past the last word
    assert ("/t/shared.parquet", 1000) in want["left_semi"]
    for shuffle in (False, True):
        if shuffle:
            monkeypatch.setattr(table_mod, "_BROADCAST_DELETES_BYTES", -1)
        for how in ("left_anti", "left_semi"):
            joined = t.join_deletes(scan, files, dfiles, how)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) != shuffle, plan
            assert "posexplode" not in plan
            assert pairs(joined) == want[how], (shuffle, how)

    # a scan none of whose files has a DV row broadcasts an empty bitmap side
    monkeypatch.undo()
    clean = [f for f in files if f.file_path == "/t/clean.parquet"]
    clean_scan = _scan_rows(spark, clean)
    assert pairs(t.join_deletes(clean_scan, clean, dfiles)) == pairs(clean_scan)
    assert not pairs(t.join_deletes(clean_scan, clean, dfiles, "left_semi"))


def test_dvs_under_an_escaped_table_path(spark, tmp_path):
    """Spark's _metadata.file_path URI-escapes a path ("a b%c" ->
    "a%20b%25c"); manifests and DV rows hold the plain path. Under such a
    table path a merge must still hide the rows it replaced (scan and
    changelog) and count them on the files it hit; a compaction must find
    every scanned file in its plan, drop its victims' DV rows and carry the
    survivors' over, and the result must equal the same steps under a plain
    path."""
    from moonlink_spark.catalog.metadata import norm_path
    from moonlink_spark.operators.changes import scan_changes
    from moonlink_spark.operators.compaction import CompactionConfig, compact
    from moonlink_spark.operators.merge import merge_into
    from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

    def state(t):
        live = {norm_path(f.file_path) for f in t.data_files()}
        targets = {
            norm_path(r["file_path"])
            for r in t.read_delete_rows(t.delete_files()).select("file_path").distinct().collect()
        }
        assert targets and targets <= live
        return (
            sorted((r["image_id"], r["caption"]) for r in t.scan().collect()),
            sum(f.deleted_count for f in t.data_files()),
            sum(d.position_count for d in t.delete_files()),
        )

    def run(root):
        t = create_images_table(spark, root, 300, seed=42)
        pre = t.current_snapshot_id()
        merge_into(t, generate_changes_df(spark, 300, 50, seed=42), run_id="m1")
        after_merge = state(t)
        changes = sorted(
            (r["_change_op"], r["image_id"])
            for r in scan_changes(t, pre, columns=["image_id"]).collect()
        )
        # the two smallest files (one with DV rows) are victims; the largest
        # keeps its DV rows
        compact(t, CompactionConfig(mode="force_regular", max_files=2), run_id="c1")
        return after_merge, changes, state(t)

    plain = run(str(tmp_path / "plain"))
    assert plain[0][1] == plain[0][2] > 0
    assert run(str(tmp_path / "a b%c")) == plain
