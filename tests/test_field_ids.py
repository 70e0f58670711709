"""Field-id projection: drop-then-re-add must NOT resurrect old data.

The reference persists PARQUET:field_id per column and projects by id
(iceberg_table_manager.rs:88-89; benches/bench_write.rs:33-45). Without it,
name-based projection reads a re-added column's stale physical values out
of pre-drop files. These tests pin the id-based semantics."""

import pyspark.sql.types as T

from pyspark.sql import functions as F

from moonlink_spark.operators.alter import alter_table
from moonlink_spark.sources.fixtures import create_images_table, generate_images_df


def test_drop_then_readd_reads_null(spark, tmp_table_root):
    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    assert table.scan().filter(F.col("fmt").isNull()).count() == 0

    alter_table(table, drop_columns=["fmt"])
    assert "fmt" not in [f.name for f in table.schema.fields]

    # re-add the SAME name with a fresh field id
    alter_table(table, add_columns=[T.StructField("fmt", T.StringType(), True)])
    got = table.scan(columns=["image_id", "fmt"])
    # pre-drop files must NOT leak their old physical fmt values
    assert got.count() == 300
    assert got.filter(F.col("fmt").isNotNull()).count() == 0


def test_readd_mixes_old_null_with_new_values(spark, tmp_table_root):
    """Files written AFTER the re-add carry real values; pre-drop files read
    NULL — both coexist in one scan."""
    table = create_images_table(spark, tmp_table_root, 200, seed=42)
    alter_table(table, drop_columns=["fmt"])
    alter_table(table, add_columns=[T.StructField("fmt", T.StringType(), True)])

    fresh = generate_images_df(spark, 50, seed=7).withColumn(
        "image_id", F.concat(F.lit("new-"), F.col("image_id"))
    ).withColumn("fmt", F.lit("webp"))
    table.append(fresh, run_id="post-readd")

    got = table.scan(columns=["image_id", "fmt"])
    assert got.count() == 250
    assert got.filter(F.col("fmt") == "webp").count() == 50
    assert got.filter(F.col("fmt").isNull()).count() == 200

    # ids were not reused: the ledger advanced past the original assignment
    meta = table.meta
    assert meta.field_ids["fmt"] > len(table.schema.fields)


def test_added_column_reads_null_on_old_files(spark, tmp_table_root):
    """Plain add-column (no drop): pre-add files project explicit NULL."""
    table = create_images_table(spark, tmp_table_root, 150, seed=42)
    alter_table(table, add_columns=[T.StructField("score", T.IntegerType(), True)])
    got = table.scan(columns=["image_id", "score"])
    assert got.count() == 150
    assert got.filter(F.col("score").isNotNull()).count() == 0



def test_compaction_does_not_resurrect_a_readded_column(spark, tmp_table_root):
    """The compaction rewrite reads through the table's field-id projection:
    a force_full rewrite of pre-drop files must write NULL for the re-added
    column, not copy the stale physical values into fresh files."""
    from moonlink_spark.operators.compaction import CompactionConfig, compact

    table = create_images_table(spark, tmp_table_root, 300, seed=42)
    alter_table(table, drop_columns=["fmt"])
    alter_table(table, add_columns=[T.StructField("fmt", T.StringType(), True)])
    assert table.scan().filter(F.col("fmt").isNotNull()).count() == 0

    assert compact(table, CompactionConfig(mode="force_full"), run_id="c1") is not None
    got = table.scan(columns=["image_id", "fmt"])
    assert got.count() == 300
    assert got.filter(F.col("fmt").isNotNull()).count() == 0


NESTED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("w", T.IntegerType(), True),
                    T.StructField("h", T.IntegerType(), True),
                ]
            ),
            True,
        ),
        T.StructField("caption", T.StringType(), True),
    ]
)


def _mk_nested(spark, root, n=100):
    from moonlink_spark.table import MoonTable

    t = MoonTable.create(spark, root, NESTED_SCHEMA, key_columns=["id"])
    df = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("id"),
        F.struct(
            (F.col("id") % 100).cast("int").alias("w"),
            (F.col("id") % 50 + 1).cast("int").alias("h"),
        ).alias("meta"),
        F.concat(F.lit("c"), F.col("id")).alias("caption"),
    )
    t.append(df, run_id="base")
    return t


def test_nested_ledger_paths(spark, tmp_table_root):
    """create() assigns ids to nested struct fields under dotted paths."""
    t = _mk_nested(spark, tmp_table_root)
    ids = t.meta.field_ids
    assert set(ids) == {"id", "meta", "meta.w", "meta.h", "caption"}
    assert len(set(ids.values())) == 5


def test_nested_drop_then_readd_reads_null(spark, tmp_table_root):
    """Drop meta.h, re-add it: pre-drop files must read meta.h as NULL (the
    nested stale-value resurrection case) while meta.w still reads its
    physical values; post-readd appends carry real meta.h again."""
    t = _mk_nested(spark, tmp_table_root, n=100)
    old_h_id = t.meta.field_ids["meta.h"]

    alter_table(t, drop_columns=["meta.h"])
    assert [f.name for f in t.schema["meta"].dataType.fields] == ["w"]
    got = t.scan()
    assert got.count() == 100
    assert got.filter(F.col("meta.w").isNull()).count() == 0

    alter_table(t, add_columns=[T.StructField("meta.h", T.IntegerType(), True)])
    assert t.meta.field_ids["meta.h"] != old_h_id
    got = t.scan()
    assert got.filter(F.col("meta.h").isNotNull()).count() == 0
    assert got.filter(F.col("meta.w").isNull()).count() == 0

    fresh = spark.range(100, 130).select(
        F.concat(F.lit("k"), F.col("id")).alias("id"),
        F.struct(
            (F.col("id") % 100).cast("int").alias("w"),
            F.lit(7).cast("int").alias("h"),
        ).alias("meta"),
        F.concat(F.lit("c"), F.col("id")).alias("caption"),
    )
    t.append(fresh, run_id="fresh")
    got = t.scan()
    assert got.count() == 130
    assert got.filter(F.col("meta.h") == 7).count() == 30
    assert got.filter(F.col("meta.h").isNull()).count() == 100


def test_nested_add_field_and_struct_column(spark, tmp_table_root):
    """Adding a nested field and a whole new struct column: old files read
    NULL for both; struct-level nullity is preserved (no struct-of-nulls
    where the struct itself was NULL)."""
    t = _mk_nested(spark, tmp_table_root, n=60)
    alter_table(t, add_columns=[T.StructField("meta.score", T.DoubleType(), True)])
    alter_table(
        t,
        add_columns=[
            T.StructField(
                "extra",
                T.StructType([T.StructField("tag", T.StringType(), True)]),
                True,
            )
        ],
    )
    ids = t.meta.field_ids
    assert "meta.score" in ids and "extra" in ids and "extra.tag" in ids
    got = t.scan()
    assert got.count() == 60
    assert got.filter(F.col("meta.score").isNotNull()).count() == 0
    assert got.filter(F.col("extra").isNotNull()).count() == 0  # struct stays NULL
    assert got.filter(F.col("meta").isNull()).count() == 0


def test_nested_drop_whole_struct_retires_descendants(spark, tmp_table_root):
    t = _mk_nested(spark, tmp_table_root, n=40)
    alter_table(t, drop_columns=["meta"])
    ids = t.meta.field_ids
    assert "meta" not in ids and "meta.w" not in ids and "meta.h" not in ids
    assert "meta" not in [f.name for f in t.schema.fields]
    # re-added struct gets entirely fresh ids and reads NULL from old files
    alter_table(
        t,
        add_columns=[
            T.StructField(
                "meta",
                T.StructType([T.StructField("w", T.IntegerType(), True)]),
                True,
            )
        ],
    )
    got = t.scan()
    assert got.count() == 40
    assert got.filter(F.col("meta").isNotNull()).count() == 0


def test_add_struct_and_child_in_one_call(spark, tmp_table_root):
    """add_columns=[ext, ext.x] in ONE alter call is legal: parents are
    validated against the EVOLVING schema as adds are applied (round-4
    ADVICE), while a child under a missing parent still fails cleanly."""
    t = _mk_nested(spark, tmp_table_root, n=40)
    alter_table(
        t,
        add_columns=[
            T.StructField("ext", T.StructType([]), True),
            T.StructField("ext.x", T.LongType(), True),
        ],
    )
    ids = t.meta.field_ids
    assert "ext" in ids and "ext.x" in ids
    got = t.scan()
    assert got.count() == 40
    assert got.filter(F.col("ext.x").isNotNull()).count() == 0

    # child under a parent that never exists still fails with a clear error
    import pytest

    with pytest.raises(ValueError, match="parent struct"):
        alter_table(t, add_columns=[T.StructField("nope.y", T.LongType(), True)])
