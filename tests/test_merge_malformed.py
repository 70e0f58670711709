"""A change row whose op is not I/U/D, or whose lsn is NULL, fails the merge
instead of losing a key. Last-writer-wins would keep such a row, send its key
to the index lookup and so delete the key's live row, while the insert filter
(op != 'D') drops a NULL-op row and inserts an unknown op. The merge raises,
naming the row's op and lsn, and commits nothing."""

import pytest
import pyspark.sql.types as T
from pyspark.sql import functions as F

from moonlink_spark.operators.merge import merge_into
from moonlink_spark.table import MoonTable

SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])
CHANGE_DDL = "op string, lsn long, image_id string, v long"
GOOD = ("U", 5010, "k0004", 4004)  # a valid row next to the malformed one


@pytest.mark.parametrize("bad, message", [
    ([(None, 5000, "k0001", 1001)], "op NULL and lsn 5000"),
    ([("X", 5001, "k0002", 1002)], "op 'X' and lsn 5001"),
    ([("U", None, "k0003", 1003)], "op 'U' and lsn NULL"),
    ([(None, 5000, "k0001", 1001), ("X", 5001, "k0002", 1002)], r"op (NULL|'X') and lsn 500[01]"),
], ids=["null-op", "unknown-op", "null-lsn", "both"])
def test_merge_rejects_malformed_change_rows(spark, tmp_path, bad, message):
    t = MoonTable.create(spark, str(tmp_path / "t"), SCHEMA, key_columns=["image_id"])
    t.append(spark.range(400).select(
        F.format_string("k%04d", F.col("id")).alias("image_id"), F.col("id").alias("v"),
    ).coalesce(2))
    sid = t.current_snapshot_id()
    before = sorted(tuple(r) for r in t.scan().collect())

    with pytest.raises(Exception, match=message):
        merge_into(t, spark.createDataFrame(bad + [GOOD], CHANGE_DDL), run_id="bad")

    assert t.current_snapshot_id() == sid
    assert sorted(tuple(r) for r in t.scan().collect()) == before
