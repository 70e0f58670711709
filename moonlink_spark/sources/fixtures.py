"""Deterministic fixture generators: the image+caption table and CDC batches.

Matches FIXTURES.md F1/F2 and BASELINE.json input_hint exactly:
images(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long); changes add (op string, lsn long).

Generation is fully distributed (mapInPandas over spark.range) and
deterministic from (seed, seq) alone — no wall clock, no driver-side loops —
so the same call reproduces identical bytes at any parallelism. The 80%
small-file layout mirrors the BASELINE.json metric shape and moonlink's
compaction trigger conditions (compaction_config.rs:39-54).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
import pyspark.sql.types as T

from moonlink_spark.functions.image import decode_image, encode_image, gen_pixels, phash64
from moonlink_spark.table import MoonTable

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

CHANGES_SCHEMA = T.StructType(
    [T.StructField("op", T.StringType(), False), T.StructField("lsn", T.LongType(), False)]
    + IMAGES_SCHEMA.fields
)

_ADJ = ["quiet", "amber", "braided", "hollow", "gilded", "mossy", "late", "northern"]
_NOUN = ["harbor", "orchard", "lantern", "ridge", "meadow", "vault", "causeway", "atlas"]

# hot phash prefixes: ~20% of rows collapse onto 3 high-bit prefixes to
# create the clustering skew the salted range partitioner must absorb
_HOT_PREFIXES = np.array([0x7A10, 0x7A11, 0x3C00], dtype=np.int64)
_HOT_FRACTION = 0.20


def image_id_for(seed: int, seq: int) -> str:
    return f"img-{seed}-{seq:012d}"


def make_row(seed: int, seq: int, version: int = 0) -> dict:
    """One deterministic image row (shared by generator + oracle checks)."""
    rng = np.random.Generator(np.random.PCG64(seed * 7_777_777 + seq * 13 + version))
    w = int(rng.integers(16, 65))
    h = int(rng.integers(16, 65))
    fmt = "jpeg" if rng.random() < 0.5 else "png"
    pixels = gen_pixels(seed, seq, w, h, version=version)
    data = encode_image(pixels, fmt)
    ph = phash64(pixels)
    if rng.random() < _HOT_FRACTION:
        hot = int(_HOT_PREFIXES[int(rng.integers(0, len(_HOT_PREFIXES)))])
        ph = (hot << 48) | (ph & ((1 << 48) - 1))
        ph = ph - (1 << 64) if ph >= (1 << 63) else ph
    adj = _ADJ[int(rng.integers(0, len(_ADJ)))]
    noun = _NOUN[int(rng.integers(0, len(_NOUN)))]
    caption = f"{adj} {noun} scene {seq:012d} v{version}"
    return {
        "image_id": image_id_for(seed, seq),
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": int(ph),
    }


def generate_images_df(
    spark: SparkSession, n_rows: int, seed: int = 42, parallelism: int | None = None
) -> DataFrame:
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_row(seed, int(s)) for s in pdf["id"]]
            if rows:
                yield pd.DataFrame(rows)

    rng_df = spark.range(0, n_rows, 1, parallelism)
    return rng_df.mapInPandas(_gen, schema=IMAGES_SCHEMA)


def small_file_layout(
    n_rows: int, seed: int = 42, small_file_fraction: float = 0.80,
    small_rows: tuple[int, int] = (100, 500), big_rows: int | None = None,
) -> np.ndarray:
    """Deterministic cumulative row offsets for the 80%-small-files layout.

    Returns offsets[] where file i covers rows [offsets[i], offsets[i+1]).
    """
    # scale the "big" file so small layouts still exhibit the 80/20 count mix
    if big_rows is None:
        big_rows = int(min(8192, max(1000, n_rows // 8)))
    rng = np.random.Generator(np.random.PCG64(seed * 31 + 7))
    sizes = []
    total = 0
    while total < n_rows:
        if rng.random() < small_file_fraction:
            sz = int(rng.integers(small_rows[0], small_rows[1] + 1))
        else:
            sz = big_rows
        sz = min(sz, n_rows - total)
        sizes.append(sz)
        total += sz
    return np.cumsum([0] + sizes)


def create_images_table(
    spark: SparkSession,
    root: str,
    n_rows: int,
    seed: int = 42,
    small_file_fraction: float = 0.80,
) -> MoonTable:
    """Create the images table with the 80%-small-files physical layout."""
    table = MoonTable.create(spark, root, IMAGES_SCHEMA, key_columns=["image_id"])
    offsets = small_file_layout(n_rows, seed=seed, small_file_fraction=small_file_fraction)
    num_bins = len(offsets) - 1
    df = generate_images_df(spark, n_rows, seed=seed)
    # bin = which file this row's seq falls into (searchsorted over the
    # deterministic layout); seq is recoverable from image_id
    bounds = offsets

    seq_expr = F.split(F.col("image_id"), "-").getItem(2).cast("long")
    binned = df.withColumn("_seq", seq_expr)

    @F.pandas_udf("int")
    def _bin_of(seq: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(bounds, seq.to_numpy(), side="right") - 1, dtype="int32"
        )

    binned = binned.withColumn("_bin", _bin_of("_seq")).drop("_seq")
    table.append(binned, run_id=f"seed{seed}", num_bins=num_bins)
    return table


def expected_decode_stats(
    n_rows: int, seed: int = 42, resize_to: tuple[int, int] | None = None
) -> pd.DataFrame:
    """Generation-time expected values for the multimodal decode/resize
    queries — the independent side of their correctness oracle.

    Computed SEQUENTIALLY on the driver with plain numpy (no Spark, no
    Arrow, no mapInPandas): regenerate each image from (seed, seq) alone,
    apply the codec round-trip (and, for *resize_to*, the same
    nearest-neighbor index math as pipeline/multimodal.resize_images), and
    emit (image_id, dec_w, dec_h, mean_px, dec_phash).  Persisted as
    parquet by the entry queries so DuckDB can read it back — turning the
    formerly rows-only image queries into fully hash-checked rows: a match
    proves the distributed Arrow/mapInPandas plumbing reproduces the
    sequential ground truth byte-for-byte.
    """
    out = {"image_id": [], "dec_w": [], "dec_h": [], "mean_px": [], "dec_phash": []}
    for seq in range(n_rows):
        row = make_row(seed, seq)
        px = decode_image(row["bytes"])  # codec round-trip (jpeg quantizes)
        if resize_to is not None:
            tw, th = resize_to
            h, w = px.shape[0], px.shape[1]
            yi = (np.arange(th) * h // th).clip(0, h - 1)
            xi = (np.arange(tw) * w // tw).clip(0, w - 1)
            px = decode_image(encode_image(px[yi][:, xi], row["fmt"]))
        out["image_id"].append(row["image_id"])
        out["dec_h"].append(px.shape[0])
        out["dec_w"].append(px.shape[1])
        out["mean_px"].append(round(float(px.mean()), 4))
        out["dec_phash"].append(phash64(px))
    df = pd.DataFrame(out)
    df["dec_w"] = df["dec_w"].astype("int32")
    df["dec_h"] = df["dec_h"].astype("int32")
    df["dec_phash"] = df["dec_phash"].astype("int64")
    return df


def generate_changes_df(
    spark: SparkSession,
    n_base: int,
    n_changes: int,
    seed: int = 42,
    lsn_start: int = 1_000,
    parallelism: int | None = None,
) -> DataFrame:
    """Deterministic CDC batch against a table created with *n_base* rows.

    Mix per FIXTURES.md F2: ~70% I (new keys), ~20% U (existing keys,
    full-row replace, version=1 pixels), ~10% D. Includes the adversarial
    cases: same key updated twice at distinct LSNs, delete-then-reinsert,
    delete of a never-inserted key (delete_if_exists analog,
    mooncake_table.rs:1286-1288).
    """
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                lsn = lsn_start + i
                rng = np.random.Generator(np.random.PCG64(seed * 999_983 + i))
                r = rng.random()
                if r < 0.70:  # insert a brand-new key
                    row = make_row(seed, n_base + i)
                    rows.append({"op": "I", "lsn": lsn, **row})
                elif r < 0.90:  # full-row update of an existing key
                    target = int(rng.integers(0, n_base))
                    row = make_row(seed, target, version=1)
                    rows.append({"op": "U", "lsn": lsn, **row})
                    if rng.random() < 0.15:  # same key updated twice, higher lsn wins
                        row2 = make_row(seed, target, version=2)
                        rows.append({"op": "U", "lsn": lsn_start + n_changes + i, **row2})
                else:  # delete
                    target = int(rng.integers(0, n_base))
                    rows.append(
                        {
                            "op": "D",
                            "lsn": lsn,
                            "image_id": image_id_for(seed, target),
                            "bytes": None,
                            "w": None,
                            "h": None,
                            "fmt": None,
                            "caption": None,
                            "phash": None,
                        }
                    )
                    if rng.random() < 0.10:  # delete-then-reinsert at higher lsn
                        row = make_row(seed, target, version=3)
                        rows.append(
                            {"op": "I", "lsn": lsn_start + 2 * n_changes + i, **row}
                        )
                    if rng.random() < 0.05:  # delete of a never-inserted key: no-op
                        rows.append(
                            {
                                "op": "D",
                                "lsn": lsn,
                                "image_id": image_id_for(seed, n_base + n_changes + i + 10_000_000),
                                "bytes": None,
                                "w": None,
                                "h": None,
                                "fmt": None,
                                "caption": None,
                                "phash": None,
                            }
                        )
            if rows:
                pdf_out = pd.DataFrame(rows)
                pdf_out["w"] = pdf_out["w"].astype("Int32")
                pdf_out["h"] = pdf_out["h"].astype("Int32")
                yield pdf_out

    rng_df = spark.range(0, n_changes, 1, parallelism)
    return rng_df.mapInPandas(_gen, schema=CHANGES_SCHEMA)
