"""Cross-run stage-timing rollup — the observability export analog.

The reference ships per-stage latency histograms for its maintenance
pipeline (observability/iceberg_persistence.rs:61-81). Here every
maintenance run already writes stage timings into its run record
(lineage/<run>/metrics.json `stage_seconds`; merge, compaction and
clustering alike). This module aggregates them across
runs into per-op per-stage quantiles and persists the rollup under
metadata/metrics/ so schedulers (warehouse sweep, cron maintain jobs) can
watch stage latency drift without scraping lineage.

Driver-side on purpose: lineage records are O(runs) small JSON files —
metadata scale, not data scale.
"""

from __future__ import annotations

import json
import os
import time

from moonlink_spark.table import MoonTable


def collect_stage_metrics(table: MoonTable) -> list[dict]:
    """Every run's {op, run_id, stage_seconds} found in lineage records."""
    lineage_root = os.path.join(table.catalog.metadata_dir, "lineage")
    out: list[dict] = []
    if not os.path.isdir(lineage_root):
        return out
    for run_id in sorted(os.listdir(lineage_root)):
        try:
            with open(os.path.join(lineage_root, run_id, "metrics.json")) as f:
                rec = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        if rec.get("stage_seconds"):
            out.append(
                {
                    "op": rec.get("op", "unknown"),
                    "run_id": run_id,
                    "stage_seconds": rec["stage_seconds"],
                }
            )
    return out


def _quantile(sorted_vals: list[float], q: float) -> float:
    if not sorted_vals:
        return 0.0
    idx = min(len(sorted_vals) - 1, int(round(q * (len(sorted_vals) - 1))))
    return sorted_vals[idx]


def rollup_stage_metrics(table: MoonTable, persist: bool = True) -> dict:
    """Aggregate stage timings across all retained lineage runs:
    {op: {stage: {n, p50, p95, max, total_sec}}}. With *persist*, writes
    the rollup to metadata/metrics/rollup.json (latest, atomic rename) and
    appends a timestamped line to rollup_history.jsonl."""
    runs = collect_stage_metrics(table)
    agg: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        stages = agg.setdefault(r["op"], {})
        for stage, sec in r["stage_seconds"].items():
            stages.setdefault(stage, []).append(float(sec))
    rollup: dict = {}
    for op, stages in agg.items():
        rollup[op] = {}
        for stage, vals in stages.items():
            vals = sorted(vals)
            rollup[op][stage] = {
                "n": len(vals),
                "p50": round(_quantile(vals, 0.50), 3),
                "p95": round(_quantile(vals, 0.95), 3),
                "max": round(vals[-1], 3),
                "total_sec": round(sum(vals), 3),
            }
    if persist and rollup:
        mdir = os.path.join(table.catalog.metadata_dir, "metrics")
        os.makedirs(mdir, exist_ok=True)
        latest = os.path.join(mdir, "rollup.json")
        with open(latest + ".tmp", "w") as f:
            json.dump(rollup, f, indent=1, sort_keys=True)
        os.rename(latest + ".tmp", latest)
        with open(os.path.join(mdir, "rollup_history.jsonl"), "a") as f:
            f.write(json.dumps({"ts": time.time(), "rollup": rollup}) + "\n")
    return rollup


def load_rollup(table: MoonTable) -> dict | None:
    """The last persisted rollup (None before the first)."""
    p = os.path.join(table.catalog.metadata_dir, "metrics", "rollup.json")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


def detect_drift(
    prev: dict | None,
    cur: dict,
    ratio: float = 1.5,
    min_sec: float = 0.05,
) -> list[dict]:
    """Stages whose p95 grew by ≥ *ratio* since the previous rollup — the
    signal a policy loop watches to flag a slowing maintenance stage
    (growing DV overhead, skewing cluster bins, manifest bloat). Stages
    under *min_sec* are ignored as noise."""
    if not prev:
        return []
    out: list[dict] = []
    for op, stages in cur.items():
        for stage, st in stages.items():
            before = prev.get(op, {}).get(stage)
            if not before:
                continue
            if st["p95"] >= min_sec and before["p95"] > 0 and (
                st["p95"] / before["p95"] >= ratio
            ):
                out.append(
                    {
                        "op": op,
                        "stage": stage,
                        "prev_p95": before["p95"],
                        "p95": st["p95"],
                        "ratio": round(st["p95"] / before["p95"], 2),
                    }
                )
    return sorted(out, key=lambda d: -d["ratio"])
