"""Both deletion-vector folds must write the same bitmaps as the numpy fold
the engine first used: the JVM fold in write_position_deletes and the
driver fold a merge uses (fold_live_positions + write_bitmap_file). Same
word array and position count per target file, same at-rest schema, and
read_delete_rows expands them back to the same (file_path, pos) set. The
driver fold also drops positions that prior bitmaps already set."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T
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
