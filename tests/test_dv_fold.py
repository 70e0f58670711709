"""The JVM-side deletion-vector fold in write_position_deletes must write the
same bitmaps as the numpy fold it replaced: the same word array and
position count per target file, in the same at-rest schema, and
read_delete_rows must expand them back to the same (file_path, pos) set."""

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.types as T
from pyspark.sql.pandas.types import to_arrow_schema

from moonlink_spark.table import MoonTable

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


def test_jvm_fold_matches_numpy_fold(spark, tmp_path):
    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    t = MoonTable.create(spark, str(tmp_path / "t"), schema, key_columns=["id"])
    rows = _cases()
    deletes = spark.createDataFrame(rows, "file_path string, pos long")
    dfiles = t.write_position_deletes(deletes, run_id="fold", num_bins=3)
    assert len(dfiles) > 1  # several bins written, each holding whole files

    expected_schema = to_arrow_schema(T._parse_datatype_string(BITMAP_SCHEMA))
    got = {}
    for d in dfiles:
        tbl = pq.read_table(d.file_path)
        assert tbl.schema.remove_metadata().equals(expected_schema)
        for fp, words, n in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)):
            assert fp not in got  # one bitmap row per target file
            got[fp] = (words, n)

    pdf = pd.DataFrame(rows, columns=["file_path", "pos"])
    want = {
        r["file_path"]: (list(r["words"]), r["n_positions"])
        for _, grp in pdf.groupby("file_path")
        for r in _to_bitmap(grp).to_dict("records")
    }
    assert got == want
    assert sum(d.position_count for d in dfiles) == sum(n for _, n in want.values())

    back = {(r["file_path"], r["pos"]) for r in t.read_delete_rows(dfiles).collect()}
    assert back == set(rows)
