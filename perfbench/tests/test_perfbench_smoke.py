"""Tiny-scale runs of every workload through the real command line: each
prints every metric BENCHMARK.json names, with its unit, and passes its
oracle. Each run starts a Spark session, so this file takes minutes."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [("cdc_upsert", 0), ("maintain_full", 1)])
def test_workload_prints_every_metric_and_passes_oracle(workload, trace):
    out = run(["--workload", workload, "--seed", "90001", "--seconds", "2",
               "--trace", str(trace), "--scale", "0.1"])
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    want = bench()["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        spans = os.path.join(ROOT, ".perfbench_work", "trace", f"{workload}-seed90001.spans.jsonl")
        assert os.path.getsize(spans) > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = run(["--workload", "cdc_upsert", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
