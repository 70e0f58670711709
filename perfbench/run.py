"""Run one benchmark workload against the moonlink_spark engine in this
checkout.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 20 --trace 0

Prints a readable report, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the run wraps the engine's layer
functions in spans and reports the per-layer metrics instead. Exits nonzero
when an op fails or the oracle disagrees with the table. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def trace_layers(tracer) -> None:
    """Wrap each layer function at the attribute its callers look it up from."""
    import moonlink_spark.catalog.manifests as manifests
    import moonlink_spark.operators.clustering as clustering
    import moonlink_spark.operators.compaction as compaction
    import moonlink_spark.operators.merge as merge
    import moonlink_spark.plans.physical as physical
    import moonlink_spark.table as table
    from moonlink_spark.catalog.catalog import FileCatalog
    from moonlink_spark.table import MoonTable

    def files_written(rec, files) -> None:
        rec["files"] = len(files)
        rec["bytes"] = sum(f.file_size_bytes for f in files)

    for mod in (merge, table, compaction, clustering):
        tracer.wrap(mod, "write_datafiles", "physical.write", files_written)
    # append imports the rolling writer from the module at call time
    tracer.wrap(physical, "write_datafiles_rolling", "physical.write", files_written)
    tracer.wrap(MoonTable, "commit_snapshot", "catalog.commit_snapshot")
    tracer.wrap(MoonTable, "plan_files", "table.plan_files")
    tracer.wrap(MoonTable, "write_position_deletes", "table.write_position_deletes")
    tracer.wrap(FileCatalog, "load", "catalog.load")

    # the CAS commit and manifest writes also record the metadata bytes
    # they wrote, so their wrappers are written out
    orig_commit = FileCatalog.commit

    def commit(self, meta, expected_version):
        with tracer.span("catalog.cas") as rec:
            version = orig_commit(self, meta, expected_version)
            rec["bytes"] = os.path.getsize(self._meta_path(version))
            return version

    FileCatalog.commit = commit
    tracer._patches.append((FileCatalog, "commit", orig_commit))

    orig_write = manifests._write

    def write(metadata_dir, prefix, entries, max_entries):
        with tracer.span("catalog.manifest_write") as rec:
            names = orig_write(metadata_dir, prefix, entries, max_entries)
            rec["chunks"] = len(names)
            rec["bytes"] = sum(os.path.getsize(os.path.join(metadata_dir, n)) for n in names)
            return names

    manifests._write = write
    tracer._patches.append((manifests, "_write", orig_write))


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (the JVM and its Python workers) has exited."""
    import machine

    kids = machine.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["cdc_upsert", "maintain_full"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="shrink table and batch sizes (self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "moonlink_spark", "__init__.py")):
        print(f"no moonlink_spark package next to {HERE}: run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import machine
    import report
    import workloads
    from spans import Tracer

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = machine.fit_environment(work)
    audit = machine.Audit()

    from moonlink_spark.session import get_spark

    spark = get_spark("perfbench", cores=int(env["SPARK_GRAFT_CPUS"]))
    session_s = time.perf_counter() - T_START
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        trace_layers(tracer)
    b = workloads.Bench(spark, work, args.seed, args.seconds, args.scale, tracer)
    try:
        workloads.WORKLOADS[args.workload](b)
        e2e, named = report.end_to_end(args.workload, b, T_START)
        layers = report.per_layer(args.workload, b) if tracer is not None else None
        interference = audit.finish()
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)

    failed = sum(not o.ok for o in b.ops) + len(b.oracle_failures)
    attempted = len(b.ops) + b.oracle_checks
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "env": env, "machine": interference, "end_to_end": e2e,
        "setup_phases": {"session": session_s, **{k: t - T_START for k, t in b.phases}},
        "setup_builds": b.setup_builds,
        "named": {k: v[0] for k, v in named.items()}, "per_layer": layers,
        "ops": [{"kind": o.kind, "wall": o.wall, "cpu": o.cpu, "ok": o.ok, "error": o.error} for o in b.ops],
        "oracle_failures": b.oracle_failures,
    }
    records = os.path.join(WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  ops {len(b.ops)}  failed {failed}")
    for name, (value, unit) in named.items():
        print(f"  {name:24s} {value:14.6g} {unit}")
    print("machine " + json.dumps(interference))
    print("set-up milestones (s since start) " + json.dumps({k: round(v, 2) for k, v in record["setup_phases"].items()}))
    for why in b.oracle_failures:
        print(f"ORACLE FAILED: {why}")

    if tracer is not None:
        spans_dir = os.path.join(WORK_ROOT, "trace")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
        tracer.write(spans_path)
        print(f"spans written to {os.path.relpath(spans_path, ROOT)} ({len(tracer.spans)} spans)")
        untraced = os.path.join(records, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            over = {k: (e2e[k] - base[k]) / base[k] for k in e2e if base.get(k)}
            print("tracing overhead vs untraced run, same seed: "
                  + "  ".join(f"{k} {v:+.1%}" for k, v in over.items()))
        else:
            print("tracing overhead: run the same workload and seed with --trace 0 first to compare")
        metrics = {k: {"value": report.printable(layers[k]), "unit": u} for k, u in report.PER_LAYER.items()}
    else:
        metrics = {k: {"value": report.printable(e2e[k]), "unit": u} for k, u in report.END_TO_END.items()}

    # the tables and staged inputs are large; records and spans stay
    for d in ("tables", "stage", "export", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
