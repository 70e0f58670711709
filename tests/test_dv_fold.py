"""The driver fold (fold_live_positions), written by
MoonTable.write_position_deletes, the engine's only deletion-vector writer,
must give the bitmaps of the numpy fold the engine first used: the same word
array and position count per target file and the same at-rest schema, and
the tests' own expansion (conftest.dv_positions, which shares no engine
code) reads them back as the same (file_path, pos) set. The fold also drops
positions that prior bitmaps already set. A rewrite's DV carry-over ORs each
surviving target's rows into one row without a Spark job. The scan's bitmap
join (join_deletes) deletes exactly the rows the join over the expanded rows
does. The Iceberg mirror's deletes are the snapshot's bitmaps: the same
positions per data file, and one v3 blob per target."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from conftest import dv_positions

from moonlink_spark.table import MoonTable, fold_live_positions

BITMAP_SCHEMA = "file_path string, words array<bigint>, n_positions long"


def _to_bitmap(pdf: pd.DataFrame) -> pd.DataFrame:
    """The numpy fold the engine first used: the reference the driver fold
    is compared with."""
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


def _write(t, rows, run_id):
    return t.write_position_deletes(fold_live_positions(_positions(rows)), run_id)


def _spark_positions(spark, rows) -> pa.Table:
    """*rows* as a Spark DataFrame collected with toArrow: the form in which
    the importer hands its (file_path, pos) rows to the driver fold."""
    return spark.createDataFrame(rows, "file_path string, pos long").toArrow()


def test_jvm_fold_matches_numpy_fold(spark, tmp_path):
    """Spark rows once went through a JVM fold (bit_or) in
    write_position_deletes; they are now collected and folded on the
    driver, and must still give the numpy fold's bitmaps."""
    t = _table(spark, tmp_path)
    rows = _cases()
    d = t.write_position_deletes(fold_live_positions(_spark_positions(spark, rows)), "fold")

    want = _reference(rows)
    assert _bitmaps([d]) == want
    assert d.position_count == sum(n for _, n in want.values())

    assert set(dv_positions([d])) == set(rows)


def test_driver_fold_matches_numpy_and_jvm_folds(spark, tmp_path):
    """The fold of pyarrow rows (the merge's) matches the numpy fold and the
    fold of the same rows collected from Spark (the path the JVM fold
    served)."""
    t = _table(spark, tmp_path)
    rows = _cases()
    d = _write(t, rows, "drv")
    assert os.path.basename(d.file_path) == "del-drv-b00000.parquet"
    assert d.format == "bitmap"

    want = _reference(rows)
    got = _bitmaps([d])
    assert got == want
    from_spark = t.write_position_deletes(
        fold_live_positions(_spark_positions(spark, rows)), "spark"
    )
    assert got == _bitmaps([from_spark])
    assert d.position_count == sum(n for _, n in want.values())
    assert d.record_count == len(want)
    # rows sorted by target file
    assert pq.read_table(d.file_path).column("file_path").to_pylist() == sorted(want)

    assert set(dv_positions([d])) == set(rows)


def test_driver_fold_drops_positions_prior_bitmaps_set(spark, tmp_path):
    t = _table(spark, tmp_path)
    far = 64 * 40 + 2  # word 40, beyond the one-word prior bitmap of short.parquet
    prior_rows = [("/t/a.parquet", 3), ("/t/a.parquet", 70), ("/t/short.parquet", 1),
                  ("/t/or.parquet", 3), ("/t/dead.parquet", 9), ("/t/untouched.parquet", 0)]
    # a second DV file with another row for or.parquet: its prior set is the
    # OR of both rows
    prior_files = [_write(t, prior_rows, "p1"), _write(t, [("/t/or.parquet", 130)], "p2")]

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
    d = t.write_position_deletes(fold_live_positions(_positions(new), prior), run_id="m")
    got = _bitmaps([d])
    assert got == _reference(live)  # dead.parquet: every position already set
    assert d.position_count == len(live)

    # the snapshot's deleted set is now the disjoint union of prior and new
    pairs = dv_positions(prior_files + [d])
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == set(prior_rows) | {("/t/or.parquet", 130)} | set(live)


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
    dv1 = _write(t, rows + [("/t/shared.parquet", 5), ("/t/shared.parquet", 700)], "dv1")
    # a second DV file with another row for shared.parquet (overlapping at
    # 700) and for word-edges.parquet: each target's rows OR together
    dv2 = _write(t, [("/t/shared.parquet", 6), ("/t/shared.parquet", 700),
                     ("/t/shared.parquet", 1000), ("/t/word-edges.parquet", 1)], "dv2")
    dfiles = [dv1, dv2]

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
    ref = spark.createDataFrame(dv_positions(dfiles), "file_path string, pos long")

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
        targets = {norm_path(fp) for fp, _ in dv_positions(t.delete_files())}
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


def _merged_twice(spark, root) -> MoonTable:
    """A 300-row table after two merges, each writing one DV file."""
    from moonlink_spark.operators.merge import merge_into
    from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

    t = create_images_table(spark, root, 300, seed=42)
    merge_into(t, generate_changes_df(spark, 300, 50, seed=42), run_id="m1")
    # same key universe, more changes: also updates base rows m1 left live
    merge_into(
        t, generate_changes_df(spark, 300, 120, seed=42, lsn_start=9_000_000), run_id="m2"
    )
    assert len(t.delete_files()) == 2
    return t


def test_carry_over_ors_rows_per_surviving_target(spark, tmp_path):
    """Two DV files with rows for the same surviving target are carried
    over as one row holding the union of their positions, in the numpy
    fold's words; rows that target a victim are gone."""
    from moonlink_spark.catalog.metadata import norm_path

    t = _merged_twice(spark, str(tmp_path / "t"))
    dfiles = t.delete_files()
    targets = t.read_bitmap_rows(dfiles).column("file_path").to_pylist()
    shared = sorted({fp for fp in targets if targets.count(fp) > 1})
    assert shared  # both merges hit the same file
    victim = next(fp for fp in sorted(set(targets)) if fp != shared[-1])
    victims = {norm_path(victim)}
    before = set(dv_positions(dfiles))

    carried, n = t.carry_over_deletes(victims, "c1")
    assert len(carried) == 1
    assert os.path.basename(carried[0].file_path) == "del-c1-dv-b00000.parquet"
    want = {(fp, p) for fp, p in before if norm_path(fp) not in victims}
    assert shared[-1] in {fp for fp, _ in want}
    got = _bitmaps(carried)  # also checks one row per target
    assert got == _reference(sorted(want))
    assert set(dv_positions(carried)) == want
    assert n == carried[0].position_count == len(want)


def test_carry_over_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """A force_regular compaction that leaves survivors with DVs carries
    their bitmaps over on the driver: no Spark job runs inside
    carry_over_deletes."""
    from test_fixed_costs import _jobs_in_group

    from moonlink_spark.operators.compaction import CompactionConfig, compact

    t = _merged_twice(spark, str(tmp_path / "t"))
    orig = MoonTable.carry_over_deletes
    calls = []

    def counted(self, victims, run_id):
        out = []
        jobs = _jobs_in_group(
            spark, "carry-over", lambda: out.append(orig(self, victims, run_id))
        )
        calls.append((out[0], jobs))
        return out[0]

    monkeypatch.setattr(MoonTable, "carry_over_deletes", counted)
    assert compact(t, CompactionConfig(mode="force_regular", max_files=2), run_id="c1")
    [((carried, n), jobs)] = calls
    assert carried and n > 0  # the survivors kept DV rows
    assert jobs == []
    assert [d.file_path for d in t.delete_files()] == [d.file_path for d in carried]


def test_iceberg_mirror_deletes_equal_the_bitmaps(spark, tmp_path):
    """A data file targeted by bitmap rows in two DV files is exported with
    the OR of both. Per data file, the v2 position-delete rows and the v3
    blob's positions equal the expansion of the snapshot's DV files; v3
    writes one blob per referenced data file, its cardinality the blob's
    position count."""
    import glob

    from moonlink_spark.iceberg import export_iceberg
    from moonlink_spark.iceberg.puffin import (
        dv_blob_positions,
        read_puffin_blob,
        read_puffin_footer,
    )

    t = _merged_twice(spark, str(tmp_path / "t"))
    dfiles = t.delete_files()
    targets = t.read_bitmap_rows(dfiles).column("file_path").to_pylist()
    assert any(targets.count(fp) > 1 for fp in targets)  # both merges hit one file
    want: dict = {}
    for fp, p in dv_positions(dfiles):
        want.setdefault(fp, set()).add(p)
    want = {fp: sorted(ps) for fp, ps in want.items()}

    export_iceberg(t, str(tmp_path / "v2"))
    [icedel] = glob.glob(str(tmp_path / "v2" / "data" / "icedel-*.parquet"))
    tbl = pq.read_table(icedel)
    rows = list(zip(tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist()))
    assert rows == sorted(rows)
    got: dict = {}
    for fp, p in rows:
        got.setdefault(fp, []).append(p)
    assert got == want

    export_iceberg(t, str(tmp_path / "v3"), format_version=3)
    [puffin] = glob.glob(str(tmp_path / "v3" / "data" / "icedv-*.puffin"))
    got = {}
    for b in read_puffin_footer(puffin)["blobs"]:
        fp = b["properties"]["referenced-data-file"]
        assert fp not in got  # one blob per referenced data file
        pos = dv_blob_positions(read_puffin_blob(puffin, b["offset"], b["length"])).tolist()
        assert int(b["properties"]["cardinality"]) == len(pos)
        got[fp] = pos
    assert got == want
