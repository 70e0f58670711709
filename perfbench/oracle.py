"""Expected table state (FIXTURES.md F5): base rows plus per-key
last-writer-wins over every applied CDC batch, final op not D. No engine
code runs here.

`expected_rows` computes the full rows with plain PySpark DataFrame
operations, for the final-state checks. `expected_keys` applies the same
rule to the key and predicate columns with Arrow and pandas, for the read
plan: it runs before the Spark warm-up, where a first Spark job would add
its own cold start to every run."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fixtures import CHANGES_DDL, IMAGES_DDL

HASH_COLS = ["image_id", "caption", "phash", "w", "h", "fmt"]


def expected_rows(spark: SparkSession, base_paths: list[str], batch_paths: list[str]) -> DataFrame:
    rows = spark.read.schema(IMAGES_DDL).parquet(*base_paths).select(
        F.lit("I").alias("op"), F.lit(-1).cast("long").alias("lsn"), "*"
    )
    if batch_paths:
        rows = rows.unionByName(spark.read.schema(CHANGES_DDL).parquet(*batch_paths))
    w = Window.partitionBy("image_id").orderBy(
        F.col("lsn").desc(), F.when(F.col("op") == "D", 1).otherwise(0)
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn", "op", "lsn")
    )


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent hash over the scalar columns and
    sha2(bytes))."""
    h = F.xxhash64(*[F.col(c) for c in HASH_COLS], F.sha2(F.col("bytes"), 256))
    r = df.agg(F.count("*").alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)



def expected_keys(base_paths: list[str], batch_paths: list[str]) -> pd.DataFrame:
    """The live rows' (image_id, phash, w, h) after *batch_paths*, by the
    rule of expected_rows."""
    cols = ["image_id", "phash", "w", "h"]
    # nullable integer columns: a delete row's null phash must not turn the
    # 64-bit hashes into floats
    ints = {pa.int64(): pd.Int64Dtype(), pa.int32(): pd.Int32Dtype()}.get
    base = pa.concat_tables(pq.read_table(p, columns=cols) for p in base_paths).to_pandas(types_mapper=ints)
    parts = [base.assign(op="I", lsn=-1)]
    parts += [pq.read_table(p, columns=["op", "lsn"] + cols).to_pandas(types_mapper=ints) for p in batch_paths]
    rows = pd.concat(parts, ignore_index=True)
    rows["is_delete"] = rows["op"] == "D"
    rows = rows.sort_values(["lsn", "is_delete"], ascending=[False, True], kind="stable")
    final = rows.drop_duplicates("image_id", keep="first")
    final = final[final["op"] != "D"][cols].reset_index(drop=True)
    return final.astype({"phash": "int64", "w": "int64", "h": "int64"})
