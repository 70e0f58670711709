"""Metrics from a finished workload: the end-to-end metrics (untraced and
traced runs), the per-layer metrics (traced runs) and the workload's named
report from the benchmark doc."""

from __future__ import annotations

import math
import statistics

from spans import self_times

# the workload's many-sample op, whose median op_cpu_s reports
PRIMARY = {"cdc_upsert": "merge", "maintain_full": "read"}
# a failed op counts as +inf in every percentile; JSON has no infinity
FAILED_PRINTED_AS = 1e9

# CPU seconds of the run's process tree, not wall time: on a VM whose host
# steals CPU time, wall times follow the steal (see README.md)
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "cycle_cpu_s": "s",
}

PER_LAYER = {
    "merge.lww_head_s": "s",
    "merge.probe_delete_s": "s",
    "merge.insert_write_s": "s",
    "merge.commit_s": "s",
    "merge.probe_file_ratio": "ratio",
    "merge.spark_jobs": "count",
    "compact.optimize_s": "s",
    "compact.plan_s": "s",
    "compact.rewrite_s": "s",
    "compact.commit_s": "s",
    "compact.files_in": "count",
    "compact.files_out": "count",
    "cluster_full.plan_s": "s",
    "cluster_full.rewrite_s": "s",
    "cluster_full.commit_s": "s",
    "cluster_full.bin_skew": "ratio",
    "cluster_full.salted_bins": "count",
    "cluster_incr.optimize_s": "s",
    "cluster_incr.rewrite_s": "s",
    "cluster_incr.dv_carryover_s": "s",
    "cluster_incr.victim_bytes_ratio": "ratio",
    "physical.write_s": "s",
    "physical.files_written": "count",
    "physical.bytes_written": "bytes",
    "physical.mb_per_s": "MB/s",
    "table.plan_files_s": "s",
    "table.scan_exec_s": "s",
    "table.files_per_read": "count",
    "table.prune_ratio": "ratio",
    "table.live_delete_files": "count",
    "table.write_position_deletes_s": "s",
    "storage.write_amp": "ratio",
    "catalog.commit_s": "s",
    "catalog.load_s": "s",
    "catalog.cas_conflicts": "count",
    "catalog.manifest_chunks_written": "count",
    "catalog.metadata_bytes": "bytes",
    "expire.expire_s": "s",
    "expire.sweep_s": "s",
    "expire.files_removed": "count",
    "iceberg.export_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
}


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(sum(xs) / len(xs)) if xs else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at least
    ten samples above it; when that percentile would be below the median
    (fewer than 21 samples), the maximum."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def costs(ops, kind: str | None, attr: str = "wall") -> list[float]:
    """Wall or CPU seconds of the ops of *kind* (every kind if None)."""
    return [getattr(o, attr) if o.ok else math.inf for o in ops if kind is None or o.kind == kind]


def end_to_end(workload: str, b, t_start: float) -> tuple[dict, dict]:
    """(metrics, named report) for one run. The metrics are CPU seconds;
    the named report gives each workload's wall-time figures as well."""
    ops = b.ops
    x = b.extra
    prim = costs(ops, PRIMARY[workload])
    p50 = median(prim)
    tail_v, tail_pct, n = tail(prim)
    op_cpu = median(costs(ops, PRIMARY[workload], "cpu"))
    setup = median(cpu for _, cpu in b.setup_builds)
    failed = sum(not o.ok for o in ops) + len(b.oracle_failures)
    attempted = len(ops) + b.oracle_checks
    share = failed / max(attempted, 1)
    named: dict = {
        "setup_s": (setup, f"CPU s (median of {len(b.setup_builds)} table builds)"),
        "setup_wall_s": (median(wall for wall, _ in b.setup_builds), "s (median of the same builds)"),
        # session start and warm-up included
        "setup_total_s": ((b.first_timed_start or t_start) - t_start, "s (process start to first timed op)"),
        "failed_op_share": (share, "ratio"),
    }
    if workload == "cdc_upsert":
        # the whole loop, compactions included
        cycle = sum(costs(ops, None, "cpu")) / x["cycles"]
        rows_per_cpu = x["events"] / sum(costs(ops, None, "cpu"))
        named.update(
            merge_p50_s=(p50, "s"),
            merge_tail_s=(tail_v, f"s (max of {n})" if tail_pct == 100.0 else f"s (p{tail_pct:.1f} of {n})"),
            merge_cpu_s=(op_cpu, "CPU s (median)"),
            cdc_events_per_s=(x["events"] / sum(costs(ops, None)), "1/s"),
            cdc_events_per_cpu_s=(rows_per_cpu, "1/CPU s"),
            cycle_s=(sum(costs(ops, None)) / x["cycles"], "s (per compaction cycle)"),
            write_amp=(b.bytes_written / max(x["user_bytes"], 1), "ratio"),
        )
    else:
        # every maintenance op once; the reads are not maintenance
        maint = [o for o in ops if o.kind != "read"]
        full = median(costs(ops, "optimize_full"))
        rows_per_cpu = x["full_rows"] / median(costs(ops, "optimize_full", "cpu"))
        cycle = sum(costs(maint, None, "cpu"))
        named.update(
            maint_gb_per_s=(x["full_bytes"] / full / 1e9, "GB/s"),
            maint_images_per_s=(x["full_rows"] / full, "1/s"),
            maint_images_per_cpu_s=(rows_per_cpu, "1/CPU s"),
            incremental_s=(median(costs(ops, "optimize_incremental")), "s"),
            maint_cycle_s=(sum(costs(maint, None)), "s (reads excluded)"),
            maint_cycle_cpu_s=(cycle, "CPU s (reads excluded)"),
            read_p50_s=(p50, "s"),
            read_tail_s=(tail_v, f"s (max of {n})" if tail_pct == 100.0 else f"s (p{tail_pct:.1f} of {n})"),
            read_cpu_s=(op_cpu, "CPU s (median)"),
            write_amp=(b.bytes_written / max(x["user_bytes"], 1), "ratio"),
        )
        for kind in ("range", "point", "time_travel"):
            named[f"read_{kind}_p50_s"] = (
                median(o.wall if o.ok else math.inf for o in ops if o.info.get("read") == kind), "s"
            )
    metrics = {
        "setup_s": setup,
        "op_cpu_s": op_cpu,
        "rows_per_cpu_s": rows_per_cpu,
        "cycle_cpu_s": cycle,
    }
    return metrics, named


def per_layer(workload: str, b) -> dict:
    ops = [o for o in b.ops if o.ok]
    spans = [s for s in b.tracer.spans if s["op"] is not None and s["end"] is not None]
    selft = self_times(b.tracer.spans)

    def of(kind):
        return [o for o in ops if o.kind == kind]

    def stage(kind, key):
        return median(o.info.get("stages", {}).get(key) for o in of(kind))

    def dur(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def attr(name, key):
        return [s.get(key, 0) for s in spans if s["name"] == name]

    merges = of("merge")
    compacts = [o for o in of("compact") if o.info.get("stages")]
    reads = [o for o in of("read") if "files" in o.info]
    full, incr = of("optimize_full"), of("optimize_incremental")
    write_s = sum(dur("physical.write"))
    write_bytes = sum(attr("physical.write", "bytes"))
    return {
        "merge.lww_head_s": stage("merge", "lww_head_sec"),
        "merge.probe_delete_s": stage("merge", "probe_delete_sec"),
        "merge.insert_write_s": stage("merge", "insert_write_sec"),
        "merge.commit_s": stage("merge", "commit_sec"),
        "merge.probe_file_ratio": mean(
            o.info["probed"] / o.info["total"] for o in merges if o.info.get("total")
        ),
        "merge.spark_jobs": median(o.info.get("spark_jobs") for o in merges),
        "compact.optimize_s": median(o.wall for o in compacts),
        "compact.plan_s": median(o.info["stages"].get("plan_sec") for o in compacts),
        "compact.rewrite_s": median(o.info["stages"].get("rewrite_sec") for o in compacts),
        "compact.commit_s": median(o.info["stages"].get("commit_sec") for o in compacts),
        "compact.files_in": mean(o.info.get("files_in") for o in compacts),
        "compact.files_out": mean(o.info.get("files_out") for o in compacts),
        "cluster_full.plan_s": stage("optimize_full", "plan_sec"),
        "cluster_full.rewrite_s": stage("optimize_full", "rewrite_sec"),
        "cluster_full.commit_s": stage("optimize_full", "commit_sec"),
        "cluster_full.bin_skew": median(
            max(o.info["bin_rows"]) / max(median(o.info["bin_rows"]), 1)
            for o in full if o.info.get("bin_rows")
        ),
        "cluster_full.salted_bins": median(o.info.get("salted_bins") for o in full),
        "cluster_incr.optimize_s": median(o.wall for o in incr),
        "cluster_incr.rewrite_s": stage("optimize_incremental", "rewrite_sec"),
        "cluster_incr.dv_carryover_s": stage("optimize_incremental", "dv_carryover_sec"),
        "cluster_incr.victim_bytes_ratio": median(
            o.info["bytes_in"] / o.info["live_bytes"] for o in incr if o.info.get("live_bytes")
        ),
        "physical.write_s": write_s,
        "physical.files_written": sum(attr("physical.write", "files")),
        "physical.bytes_written": write_bytes,
        "physical.mb_per_s": write_bytes / 1e6 / write_s if write_s else 0.0,
        "table.plan_files_s": median(dur("table.plan_files")),
        "table.scan_exec_s": median(dur("read.exec")),
        "table.files_per_read": mean(o.info["files"] for o in reads),
        "table.prune_ratio": mean(1 - o.info["files"] / max(o.info["total_files"], 1) for o in reads),
        "table.live_delete_files": b.extra.get("live_delete_files", 0),
        "table.write_position_deletes_s": median(dur("table.write_position_deletes")),
        "storage.write_amp": b.bytes_written / b.extra["user_bytes"] if b.extra.get("user_bytes") else 0.0,
        "catalog.commit_s": median(
            selft[s["id"]] for s in spans if s["name"] == "catalog.commit_snapshot"
        ),
        "catalog.load_s": sum(dur("catalog.load")),
        "catalog.cas_conflicts": sum(
            1 for s in spans if s["name"] == "catalog.cas" and s.get("error") == "CommitConflict"
        ),
        "catalog.manifest_chunks_written": sum(attr("catalog.manifest_write", "chunks")),
        "catalog.metadata_bytes": sum(attr("catalog.cas", "bytes")) + sum(attr("catalog.manifest_write", "bytes")),
        "expire.expire_s": median(o.wall for o in of("expire")),
        "expire.sweep_s": median(o.wall for o in of("sweep")),
        "expire.files_removed": mean(o.info.get("files_removed") for o in of("sweep")),
        "iceberg.export_s": median(o.wall for o in of("export")),
        "spark.jobs": mean(o.info.get("spark_jobs") for o in b.ops),
        "spark.tasks": mean(o.info.get("spark_tasks") for o in b.ops),
    }


def printable(v: float) -> float:
    return v if math.isfinite(v) else FAILED_PRINTED_AS
