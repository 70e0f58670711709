"""Dump .explain("formatted") output for the optimization round's evidence.

Usage:
  python tools/dump_plans.py OUTDIR SUFFIX pipeline   # declared pipeline queries
  python tools/dump_plans.py OUTDIR SUFFIX maint      # internal maintenance plans

Pipeline mode explains the declared queries' returned DataFrames directly.
Maint mode builds a small fixture table, runs merge / fused cluster /
force-full compact, and intercepts every distributed write
(plans.physical.write_datafiles) and the merge probe's collect
(DataFrame.toArrow) to dump the physical plan of the exact DataFrame each op
executes — the plans the bench times, which the query functions' returned
scans would not show.

Run once from the round-start tree (SUFFIX "before", via a git worktree)
and once from the optimized tree ("after") so plan-shape claims in the
OPTIMIZATION notes are checkable without running Spark.
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
    from moonlink_spark.sources.fixtures import create_images_table, generate_changes_df

    captured: list[tuple[str, str]] = []
    orig = physical.write_datafiles

    def patched(df, **kw):
        part = df.repartition(max(kw.get("num_bins", 1), 1), "_bin")
        if kw.get("sort_within"):
            part = part.sortWithinPartitions("_bin", *kw["sort_within"])
        captured.append((kw.get("run_id", "?"), _explain(part)))
        return orig(df, **kw)

    physical.write_datafiles = patched
    # the operators import write_datafiles by value — patch those refs too
    import moonlink_spark.operators.clustering as _cl
    import moonlink_spark.operators.compaction as _co
    import moonlink_spark.operators.merge as _me
    import moonlink_spark.table as _tb

    for mod in (_cl, _co, _me, _tb):
        if hasattr(mod, "write_datafiles"):
            mod.write_datafiles = patched

    root = "/tmp/dump_plans_tbl"
    shutil.rmtree(root, ignore_errors=True)
    t = create_images_table(spark, root, 3000, seed=42)
    # the merge probe is the one DataFrame the merge collects to the driver
    frame_cls = type(spark.range(1))
    orig_to_arrow = frame_cls.toArrow

    def to_arrow(self):
        captured.append(("dp-merge-probe", _explain(self)))
        return orig_to_arrow(self)

    frame_cls.toArrow = to_arrow
    try:
        merge_into(t, generate_changes_df(spark, 3000, 600, seed=42), run_id="dp-merge")
    finally:
        frame_cls.toArrow = orig_to_arrow
    optimize(t, mode="full", cluster_by=["phash", "w", "h"], run_id="dp-fused",
             target_bytes=1 << 20)
    compact(t, CompactionConfig(mode="force_full", target_bytes=1 << 20),
            run_id="dp-compact")
    shutil.rmtree(root, ignore_errors=True)

    names = {
        "dp-merge-probe": "merge_probe",
        "dp-merge": "merge_insert_write",  # the merge's only distributed write
        "dp-fused": "cluster_fused_rewrite",
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
