"""Dump .explain("formatted") output for the optimization round's evidence.

Usage:
  python tools/dump_plans.py OUTDIR SUFFIX pipeline   # declared pipeline queries
  python tools/dump_plans.py OUTDIR SUFFIX maint      # internal maintenance plans

Pipeline mode explains the declared queries' returned DataFrames directly.
Maint mode builds a small fixture table, runs merge / fused cluster /
append + merge + incremental cluster / force-full compact, and intercepts
every distributed write (plans.physical.write_datafiles, in every module
that imported it) to dump the physical plan of the exact DataFrame each op
executes — the plans the bench times, which the query functions' returned
scans would not show. The incremental cluster runs while the second
merge's deletion vectors sit on clustered survivors. It also dumps
`scan_with_dvs`, a filtered count over the table while the first merge's
deletion vectors are live: the scan's bitmap join.

Run this file once from a `git archive` copy of the old tree (SUFFIX
"before"; it imports the package of the tree it sits in) and once from
the new tree ("after") so plan-shape claims are checkable without running
Spark.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PIPELINE_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_exact",
    "embed_cosine_topk",
    "embed_lsh_ann",
    "zorder_key_kernel",
]


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_pipeline(spark, outdir: str, suffix: str) -> None:
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = entry.queries()
    for name in PIPELINE_QUERIES:
        try:
            plan = _explain(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building/explaining {name}: {e}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)


def dump_maint(spark, outdir: str, suffix: str) -> None:
    from moonlink_spark.operators.compaction import CompactionConfig, compact
    from moonlink_spark.operators.merge import merge_into
    from moonlink_spark.operators.optimize import optimize
    from moonlink_spark.plans import physical
    from moonlink_spark.sources.fixtures import (
        create_images_table,
        generate_changes_df,
        generate_images_df,
    )

    captured: list[tuple[str, str]] = []
    orig = physical.write_datafiles

    def patched(df, **kw):
        part = df.repartition(max(kw.get("num_bins", 1), 1), "_bin")
        if kw.get("sort_within"):
            part = part.sortWithinPartitions("_bin", *kw["sort_within"])
        captured.append((kw.get("run_id", "?"), _explain(part)))
        return orig(df, **kw)

    physical.write_datafiles = patched
    # modules that import write_datafiles by value hold their own reference
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("moonlink_spark.")
                and getattr(mod, "write_datafiles", None) is orig):
            mod.write_datafiles = patched

    root = "/tmp/dump_plans_tbl"
    shutil.rmtree(root, ignore_errors=True)
    t = create_images_table(spark, root, 3000, seed=42)
    merge_into(t, generate_changes_df(spark, 3000, 600, seed=42), run_id="dp-merge")
    # the merge left deletion vectors: a filtered count shows the scan's
    # bitmap join
    from pyspark.sql import functions as F

    dv_scan = t.scan().filter(F.col("phash") > 0).groupBy().count()
    captured.append(("dp-scan", _explain(dv_scan)))
    optimize(t, mode="full", cluster_by=["phash", "w", "h"], run_id="dp-fused",
             target_bytes=1 << 20)
    # fresh files beside the clustered ones, and deletion vectors on them
    t.append(generate_images_df(spark, 600, seed=7).withColumn(
        "image_id", F.concat(F.lit("fresh-"), F.col("image_id"))), run_id="dp-append")
    merge_into(t, generate_changes_df(spark, 3000, 300, seed=42, lsn_start=9_000_000),
               run_id="dp-merge2")
    optimize(t, mode="incremental", cluster_by=["phash", "w", "h"], run_id="dp-incr",
             target_bytes=1 << 20)
    compact(t, CompactionConfig(mode="force_full", target_bytes=1 << 20),
            run_id="dp-compact")
    shutil.rmtree(root, ignore_errors=True)

    names = {
        "dp-merge": "merge_insert_write",  # the merge's only distributed write
        "dp-scan": "scan_with_dvs",
        "dp-fused": "cluster_fused_rewrite",
        "dp-merge2": "merge2_insert_write",
        "dp-incr": "cluster_incr_rewrite",
        "dp-compact": "compact_rewrite",
    }
    seen: dict[str, int] = {}
    for run_id, plan in captured:
        base = names.get(run_id, run_id)
        k = seen.get(run_id, 0)
        seen[run_id] = k + 1
        if k:
            base = f"{base}{k}"
        path = os.path.join(outdir, f"{base}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)


def main() -> None:
    outdir, suffix, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    os.makedirs(outdir, exist_ok=True)
    from moonlink_spark.session import get_spark

    spark = get_spark("dump_plans", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    if mode in ("pipeline", "all"):
        dump_pipeline(spark, outdir, suffix)
    if mode in ("maint", "all"):
        dump_maint(spark, outdir, suffix)
    spark.stop()


if __name__ == "__main__":
    main()
