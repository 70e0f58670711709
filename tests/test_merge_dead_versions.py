"""A merge probe that does not anti-join the deletion vectors also returns the
dead versions of a batch key that no rewrite has removed yet. Only the live
position may be deleted again: three merges that update the same keys with
no compaction in between, the last one deleting a key whose older versions
sit in DV'd files, must count exactly the live matches, never write one
position into two DV files, and leave the last-writer-wins rows visible."""

import pandas as pd
import pyspark.sql.types as T
from conftest import dv_positions

from moonlink_spark.iceberg import export_iceberg, read_iceberg_scan
from moonlink_spark.operators import merge_into
from moonlink_spark.table import MoonTable

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("v", T.StringType(), True),
])
CHANGE_DDL = "op string, lsn long, id long, v string"

BASE = [(i, f"base-{i}") for i in range(30)]
KEYS = [1, 5, 12, 18, 25]  # spread over the three base files
NEW_KEY = 100
DELETED = 5


def _batches() -> list[list[tuple]]:
    b1 = [("U", 100, k, f"b1-{k}") for k in KEYS] + [("I", 100, NEW_KEY, "b1-new")]
    b2 = [("U", 200, k, f"b2-{k}") for k in KEYS + [NEW_KEY]]
    b3 = [("U", 300, k, f"b3-{k}") for k in KEYS + [NEW_KEY] if k != DELETED]
    b3 += [("D", 300, DELETED, None), ("D", 300, 999, None)]  # 999: missing key
    return [b1, b2, b3]


def _lww(batches) -> pd.DataFrame:
    """Last writer wins per key over the base rows (lsn 0) and every event,
    computed with pandas alone."""
    ev = pd.DataFrame(
        [("I", 0, i, v) for i, v in BASE] + [e for b in batches for e in b],
        columns=["op", "lsn", "id", "v"],
    )
    last = ev.sort_values("lsn", kind="stable").groupby("id").tail(1)
    return (
        last[last["op"] != "D"][["id", "v"]].sort_values("id").reset_index(drop=True)
    )


def test_repeated_updates_delete_only_live_versions(spark, tmp_path):
    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA, key_columns=["id"])
    for part in range(3):
        t.append(spark.createDataFrame(BASE[part * 10:(part + 1) * 10], SCHEMA).coalesce(1))
    assert len(t.data_files()) == 3

    batches = _batches()
    matched = []
    for i, b in enumerate(batches):
        res = merge_into(t, spark.createDataFrame(b, CHANGE_DDL), run_id=f"m{i}")
        matched.append(res.matched_keys)
    # b1: the five base keys (the new key is an insert); b2: those five plus
    # the new key; b3: five updates plus the delete (999 matches nothing)
    assert matched == [5, 6, 6]

    dvs = t.delete_files()
    assert len(dvs) == 3  # one DV file per merge, none compacted away
    per_dv = [set(dv_positions([d])) for d in dvs]
    deleted = set().union(*per_dv)
    assert sum(len(s) for s in per_dv) == len(deleted)  # no position in two DV files
    assert sum(d.position_count for d in dvs) == len(deleted) == sum(matched)
    assert sum(f.deleted_count for f in t.data_files()) == len(deleted)

    want = _lww(batches)
    got = t.scan().toPandas().sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # the Iceberg mirror applies the same positions
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)
    ice = read_iceberg_scan(spark, dest).toPandas().sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(ice[["id", "v"]], want, check_dtype=False)
