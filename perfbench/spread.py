"""Run one workload under several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, the steadiness
measure the bounds in BENCHMARK.json are set against. Each seed's line also
shows the run's wall time and the hypervisor steal its audit recorded, so a
run slowed by a noisy machine stands out.

    python3 perfbench/spread.py --workload cdc_upsert --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        if out.returncode != 0 or not last["correct"]:
            print(f"seed {seed}: exit {out.returncode}, correct={last['correct']}", file=sys.stderr)
            return 1
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        record = os.path.join(ROOT, ".perfbench_work", "records", f"{args.workload}-seed{seed}-trace{args.trace}.json")
        with open(record) as f:
            audit = json.load(f)["machine"]
        print(
            f"seed {seed}: " + "  ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items())
            + f"  [wall {audit['wall_s']:.0f} s, steal {audit['steal_cores']:.2f} cores]",
            flush=True,
        )
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else ("  > bound/3" if spread < b else "  > BOUND")
        print(f"{k:28s} median {med:12.5g}  spread {spread:7.2%}  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
