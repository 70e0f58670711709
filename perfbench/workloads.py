"""The benchmark workloads. Each runs one closed loop with one client: the
table's maintenance lock serializes merge, compaction and clustering, so a
second client would only measure lock waiting.

Each workload records its timed ops on the `Bench`; `report.py` turns them
into metrics. Sizes are for the default scale 1.0; `--scale` shrinks them
for the self-tests.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import fixtures
import machine
import oracle

CLUSTER_BY = ["phash", "w", "h"]

# base tables: 64 files per 6 000 rows, 80 % of them small (20-100 rows at
# scale 1.0)
SMALL_FILE_ROWS = (20, 100)
ROWS_PER_BASE_FILE = 6000 / 64
# rows of the base tables at scale 1.0 and of cdc_upsert's CDC batches
CDC_ROWS = 3000
CDC_EVENTS = 150
MAINT_ROWS = 4000
# clustering target size: live bytes / CLUSTER_BINS, a fixed bin count that
# does not depend on the core count
CLUSTER_BINS = 16
# builds of the starting table per run; setup_s is their median
SETUP_REPEATS = 3


@dataclass
class Op:
    kind: str
    op_id: str
    wall: float
    cpu: float  # CPU seconds of the run's process tree: driver, JVM, Python workers
    ok: bool
    error: str | None = None
    info: dict = field(default_factory=dict)


class Bench:
    """State shared by the workloads: the session, the work directory, the
    timed-op log and, in traced runs, the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.ops: list[Op] = []
        self.first_timed_start: float | None = None
        self.extra: dict = {}  # workload facts for the report (bytes, rows, ...)
        self.oracle_checks = 0
        self.oracle_failures: list[str] = []
        self.phases: list[tuple[str, float]] = []  # (label, perf_counter) set-up milestones
        self.setup_builds: list[tuple[float, float]] = []  # (wall, cpu) seconds of each starting-table build
        self._dirs: list[str] = []
        self._written: set[str] = set()
        self.bytes_written = 0

    def n(self, rows: int) -> int:
        return max(4, int(rows * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, label: str) -> None:
        self.phases.append((label, time.perf_counter()))

    def timed(self, kind: str, fn, check=None, probe=None, info: dict | None = None):
        """Run one timed op. An exception or a failed *check(result)* counts
        as a failed op; nothing is retried. *probe(op, result)* collects layer
        facts after the clock stops, in traced runs only. After the op, the
        files it wrote count towards bytes_written."""
        op_id = f"{kind}-{len(self.ops):04d}"
        tracer = self.tracer
        if tracer is not None:
            tracer.op = op_id
            self.spark.sparkContext.setJobGroup(op_id, kind)
        if self.first_timed_start is None:
            self.first_timed_start = time.perf_counter()
        res = None
        err = None
        cpu0 = machine.tree_cpu_sec(os.getpid())
        t0 = time.perf_counter()
        try:
            with tracer.span(kind) if tracer is not None else nullcontext():
                res = fn()
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — every failure is counted, not retried
            wall = time.perf_counter() - t0
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        cpu = machine.tree_cpu_sec(os.getpid()) - cpu0
        op = Op(kind, op_id, wall, cpu, err is None, err, dict(info or {}))
        if err is None and check is not None:
            why = check(res)
            if why:
                op.ok, op.error = False, f"oracle: {why}"
        if tracer is not None:
            tracer.op = None
            self.spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
            if probe is not None and err is None:
                probe(op, res)
            op.info.update(spark_counts(self.spark, op_id))
        if op.error:
            print(f"failed op {op_id}: {op.error}", file=sys.stderr)
        self.ops.append(op)
        self.count_written()
        return res

    # ---- bytes written (data + delete files), for write amplification ----
    def watch(self, *dirs: str) -> None:
        """Start counting parquet files that appear under *dirs*."""
        self._dirs = list(dirs)
        self._written = set(self._listing())

    def _listing(self) -> list[str]:
        out = []
        for d in self._dirs:
            out += glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        return out

    def count_written(self) -> None:
        """Add the bytes of files that appeared since the last call."""
        for p in self._listing():
            if p not in self._written:
                self._written.add(p)
                try:
                    self.bytes_written += os.path.getsize(p)
                except FileNotFoundError:
                    pass


def spark_counts(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return {"spark_jobs": len(jobs), "spark_tasks": tasks}


# ---------------------------------------------------------------- helpers
def new_table(b: Bench, name: str, base_paths: list[str]):
    """A table holding exactly the staged base files (copied into the
    table's data directory, then registered with add_files). Returns the
    table and the (wall, cpu) seconds the engine took: create plus
    add_files, not the copy."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from moonlink_spark.table import MoonTable

    root = b.path("tables", name)
    shutil.rmtree(root, ignore_errors=True)
    pid = os.getpid()
    c0, t0 = machine.tree_cpu_sec(pid), time.perf_counter()
    t = MoonTable.create(b.spark, root, from_arrow_schema(fixtures.IMAGES_ARROW), ["image_id"])
    wall, cpu = time.perf_counter() - t0, machine.tree_cpu_sec(pid) - c0
    dst = []
    for p in base_paths:
        d = os.path.join(t.catalog.data_dir, os.path.basename(p))
        shutil.copyfile(p, d)
        dst.append(d)
    c0, t0 = machine.tree_cpu_sec(pid), time.perf_counter()
    t.add_files(dst, run_id="base")
    return t, (wall + time.perf_counter() - t0, cpu + machine.tree_cpu_sec(pid) - c0)


def build_table(b: Bench, name: str, base_paths: list[str], warm):
    """The workload's starting table, built SETUP_REPEATS times from the
    staged base files; setup_s is the median build's CPU time.

    A fresh JVM pays one-time code generation and JIT compilation on the
    first run of each engine path (10-15 s on the first merge here).
    Production runs these paths continuously, so set-up pays it: *warm(t)*
    runs the workload's ops once on the first build, which is then thrown
    away. The last build is kept."""
    for i in range(SETUP_REPEATS):
        t, cost = new_table(b, f"{name}-{i}", base_paths)
        b.setup_builds.append(cost)
        if i == 0:
            warm(t)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(t.root, ignore_errors=True)
    return t


def stage_base(b: Bench, n_rows: int) -> list[str]:
    n_files = max(2, round(n_rows / ROWS_PER_BASE_FILE))
    small = tuple(max(1, round(r * b.scale)) for r in SMALL_FILE_ROWS)
    return fixtures.stage_base(b.seed, n_rows, n_files, b.path("stage", "base"), small)


def read_changes(b: Bench, batch: fixtures.Batch):
    return b.spark.read.schema(fixtures.CHANGES_DDL).parquet(batch.path)


def check_merge(batch: fixtures.Batch):
    def check(res) -> str | None:
        if res.matched_keys != batch.expect_matched or res.inserted_rows != batch.expect_inserted:
            return (
                f"merge matched {res.matched_keys}/{batch.expect_matched} keys, "
                f"inserted {res.inserted_rows}/{batch.expect_inserted} rows"
            )
        return None

    return check


def lineage(t, run_id: str, name: str) -> dict:
    p = os.path.join(t.catalog.metadata_dir, "lineage", run_id, name)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def summary(t, run_id: str) -> dict:
    for s in reversed(t.snapshots()):
        if s.summary.get("run_id") == run_id:
            return dict(s.summary)
    return {}


def probe_merge(t):
    def probe(op: Op, res) -> None:
        m = lineage(t, op.info["run_id"], "metrics.json")
        op.info.update(stages=m.get("stage_seconds", {}), probed=m.get("probed_files"), total=m.get("total_files"))

    return probe


def oracle_check(b: Bench, t, base_paths, batch_paths, label: str) -> None:
    """Compare the table's scan with the oracle; a mismatch is a failed op."""
    b.oracle_checks += 1
    got = oracle.fingerprint(t.scan())
    want = oracle.fingerprint(oracle.expected_rows(b.spark, base_paths, batch_paths))
    if got != want:
        b.oracle_failures.append(f"{label}: table has {got[0]} rows, oracle {want[0]} (or hash differs)")


# ---------------------------------------------------------------- cdc_upsert
def cdc_upsert(b: Bench) -> None:
    """CDC batches applied back to back with merge_into on a table whose
    files, deletion vectors and snapshots keep growing; best-effort
    compaction (optimize mode="data") after every fourth merge.

    The work is fixed by --seconds, not by the clock: one cycle of four
    merges and a compaction per 10 s, which this engine runs in 12-15 s on
    a 4-core machine. Every run of a seed then times the same ops on
    the same table states, so a faster engine shows as lower numbers rather
    than as more, cheaper merges."""
    from moonlink_spark.operators import merge_into, optimize

    compact_every = 4
    n_base, n_events = b.n(CDC_ROWS), b.n(CDC_EVENTS)
    base = stage_base(b, n_base)
    stream = fixtures.ChangeStream(b.seed, n_base, b.path("stage", "cdc"))
    n_batches = compact_every * max(1, round(b.seconds / 10))
    batches = [stream.next_batch(n_events) for _ in range(n_batches)]
    b.mark("staged")

    def warm(tw) -> None:  # the loop's first merge and a compaction
        merge_into(tw, read_changes(b, batches[0]), run_id="warm-merge")
        optimize(tw, "data", run_id="warm-compact")

    t = build_table(b, "cdc", base, warm)
    b.mark("table")
    b.watch(t.catalog.data_dir)

    def probe_compact(op: Op, res) -> None:
        if res is not None:
            s = summary(t, op.info["run_id"])
            op.info.update(
                stages=lineage(t, op.info["run_id"], "stage_metrics.json").get("stage_seconds", {}),
                files_in=s.get("removed-files"), files_out=s.get("added-files"),
            )

    applied: list[fixtures.Batch] = []
    for i, batch in enumerate(batches):
        run_id = f"merge-{i:04d}"
        b.timed(
            "merge",
            lambda: merge_into(t, read_changes(b, batch), run_id=run_id),
            check=check_merge(batch), probe=probe_merge(t), info={"run_id": run_id},
        )
        applied.append(batch)
        if (i + 1) % compact_every:
            continue
        run_id = f"compact-{i:04d}"
        b.timed(
            "compact", lambda: optimize(t, "data", run_id=run_id),
            probe=probe_compact, info={"run_id": run_id},
        )
    b.extra.update(
        cycles=len(applied) / compact_every,
        events=sum(x.events for x in applied),
        user_bytes=sum(x.input_bytes for x in applied),
        live_delete_files=len(t.delete_files()),
    )
    oracle_check(b, t, base, [x.path for x in applied], "cdc_upsert final state")


# ------------------------------------------------------------- maintain_full
@dataclass
class Lifecycle:
    """Staged inputs of the maintained table: base rows, a 20 % CDC batch
    applied before maintenance, 10 % fresh rows appended after the fused
    rewrite, and a 5 % CDC batch that leaves deletion vectors on clustered
    files and one unclustered insert file for the reads."""

    base: list[str]
    b1: fixtures.Batch
    fresh: str
    b2: fixtures.Batch


def stage_lifecycle(b: Bench) -> Lifecycle:
    n_base = b.n(MAINT_ROWS)
    base = stage_base(b, n_base)
    stream = fixtures.ChangeStream(b.seed, n_base, b.path("stage", "cdc"))
    b1 = stream.next_batch(n_base // 5)
    seqs = np.arange(stream.next_seq, stream.next_seq + n_base // 10)
    stream.next_seq += len(seqs)
    stream.live.update(int(s) for s in seqs)
    fresh = fixtures.stage_rows(b.seed, seqs, 0, b.path("stage", "append", "fresh.parquet"))
    b2 = stream.next_batch(n_base // 20)
    return Lifecycle(base, b1, fresh, b2)


def plan_reads(b: Bench, inp: Lifecycle, n: int) -> list[tuple[str, tuple, int]]:
    """*n* seeded reads, range / point / time-travel interleaved, each with
    its expected count from the oracle states."""
    # oracle states and the lsn each is visible from: the base (add_files
    # carries no lsn); after b1 (the cluster, append and incremental
    # snapshots inherit b1's lsn); after b2
    fresh_base = inp.base + [inp.fresh]
    inputs = [(inp.base, []), (fresh_base, [inp.b1.path]), (fresh_base, [inp.b1.path, inp.b2.path])]
    states = [oracle.expected_keys(base, batches) for base, batches in inputs]
    lsn_floor = [0, inp.b1.max_lsn, inp.b2.max_lsn, inp.b2.max_lsn + fixtures.LSN_STRIDE]

    final = states[2]
    b.extra["read_rows"] = len(final)
    ph = final["phash"].to_numpy()
    ph_sorted = np.sort(ph)
    width = max(1, len(ph_sorted) // 100)  # ~1 % selectivity
    live_ids = final["image_id"].to_numpy()
    live_set = set(live_ids)
    deleted_ids = np.array(sorted((set(states[0]["image_id"]) | set(states[1]["image_id"])) - live_set))
    updated = set()
    for x in (inp.b1, inp.b2):
        d = pq.read_table(x.path, columns=["op", "image_id"]).to_pydict()
        updated |= {k for op, k in zip(d["op"], d["image_id"]) if op == "U"}
    pools = [p for p in (live_ids, np.array(sorted(updated & live_set)), deleted_ids) if len(p)]

    # the mix is fixed, only the keys, ranges and lsns are drawn from the
    # seed: the kinds take turns, point reads cycle through the key pools
    # and time-travel reads through the three states, so every seed times
    # the same kinds of work
    rng = np.random.default_rng([b.seed, 99])
    reads = []
    for i in range(n):
        kind = ("range", "point", "time_travel")[i % 3]
        if kind == "range":
            j = int(rng.integers(0, len(ph_sorted) - width + 1))
            lo, hi = int(ph_sorted[j]), int(ph_sorted[j + width - 1])
            reads.append((kind, (lo, hi), int(((ph >= lo) & (ph <= hi)).sum())))
        elif kind == "point":  # a live, an updated or a deleted key
            pool = pools[(i // 3) % len(pools)]
            key = str(pool[int(rng.integers(0, len(pool)))])
            reads.append((kind, (key,), int(key in live_set)))
        else:
            s = (i // 3) % 3
            lsn = int(rng.integers(lsn_floor[s], lsn_floor[s + 1]))
            wmin, hmax = int(rng.integers(16, 65)), int(rng.integers(16, 65))
            st = states[s]
            reads.append((kind, (lsn, wmin, hmax), int(((st["w"] >= wmin) & (st["h"] <= hmax)).sum())))
    return reads


def reads_for(seconds: float, per_second: float) -> int:
    """Read count for --seconds: whole range/point/time-travel triples, at
    a nominal rate, so every run of a seed times the same reads."""
    return 3 * max(1, round(seconds * per_second / 3))




def run_reads(b: Bench, t, reads) -> None:
    """Run *reads* in order, each a timed op."""
    from pyspark.sql import functions as F

    total_files = len(t.data_files())
    span = b.tracer.span if b.tracer is not None else None

    def read(kind: str, args: tuple, info: dict):
        def count(df) -> int:
            # Spark is lazy: scan() only plans, the count is the read's action
            with span("read.exec") if span is not None else nullcontext():
                return df.count()

        def go() -> int:
            if kind == "time_travel":
                lsn, wmin, hmax = args
                df = t.scan_at_lsn(lsn, columns=["w", "h"])
                return count(df.filter((F.col("w") >= wmin) & (F.col("h") <= hmax)))
            col, (lo, hi) = ("phash", args) if kind == "range" else ("image_id", (args[0], args[0]))
            files = t.plan_files({col: (lo, hi)})
            info["files"] = len(files)
            return count(t.scan(files=files).filter(F.col(col).between(lo, hi)))

        return go

    for kind, args, want in reads:
        info = {"read": kind, "total_files": total_files}
        b.timed(
            "read", read(kind, args, info),
            check=lambda n, w=want: None if n == w else f"count {n}, expected {w}",
            info=info,
        )


def maintain_full(b: Bench) -> None:
    """The nightly maintenance cycle on a DV-laden table, then the reads it
    exists to speed up: fused compact+cluster, append, incremental cluster,
    a CDC batch, the read mix, expire + orphan sweep, manifest rewrite and
    Iceberg export.

    Set-up merges the first CDC batch, which pays the JVM's one-time cost
    of the merge and of the read and write paths the other ops share. The
    timed fused rewrite is the JVM's first: an untimed one before it would
    take it from ~5.2 s to ~4.1 s but add ~5 s to every run, and the run
    budget has no room for it. --seconds sets the number of reads (1.2 per
    second, 12 at 10 s)."""
    from moonlink_spark.iceberg import export_iceberg
    from moonlink_spark.operators import expire_snapshots, merge_into, optimize, rewrite_manifests, sweep_orphans

    inp = stage_lifecycle(b)
    reads = plan_reads(b, inp, reads_for(b.seconds, 1.2))
    b.mark("staged")
    t = build_table(b, "maint", inp.base, lambda tw: None)
    merge_into(t, read_changes(b, inp.b1), run_id="merge-1")
    files = t.data_files()
    live_bytes = sum(f.live_bytes for f in files)
    b.extra.update(full_bytes=live_bytes, full_rows=sum(f.live_count for f in files), user_bytes=live_bytes)
    tb = max(1, live_bytes // CLUSTER_BINS)
    b.mark("table")

    def probe_cluster(live: int):
        def probe(op: Op, res) -> None:
            run_id = op.info["run_id"]
            m = lineage(t, run_id, "metrics.json")
            rows = []
            for p in glob.glob(os.path.join(t.catalog.metadata_dir, "lineage", run_id, "bin-*.json")):
                with open(p) as f:
                    rows.append(json.load(f)["record_count"])
            op.info.update(
                stages=m.get("stage_seconds", {}), bytes_in=m.get("bytes_in", 0), live_bytes=live,
                bin_rows=rows, salted_bins=summary(t, run_id).get("salted-bins", 0),
            )

        return probe

    export_dir = b.path("export", "maint")
    b.watch(t.catalog.data_dir, export_dir)
    b.timed(
        "optimize_full",
        lambda: optimize(t, "full", cluster_by=CLUSTER_BY, target_bytes=tb, run_id="full"),
        check=lambda sid: None if sid is not None else "fused optimize did nothing",
        probe=probe_cluster(live_bytes), info={"run_id": "full"},
    )
    b.timed("append", lambda: t.append(b.spark.read.schema(fixtures.IMAGES_DDL).parquet(inp.fresh), run_id="append"))
    live_pre_incr = sum(f.live_bytes for f in t.data_files()) if b.tracer is not None else 0
    b.timed(
        "optimize_incremental",
        lambda: optimize(t, "incremental", cluster_by=CLUSTER_BY, target_bytes=tb, run_id="incr"),
        check=lambda sid: None if sid is not None else "incremental optimize found no fresh files",
        probe=probe_cluster(live_pre_incr), info={"run_id": "incr"},
    )
    b.timed(
        "merge", lambda: merge_into(t, read_changes(b, inp.b2), run_id="merge-2"),
        check=check_merge(inp.b2), probe=probe_merge(t), info={"run_id": "merge-2"},
    )
    run_reads(b, t, reads)
    b.timed("expire", lambda: expire_snapshots(t, retain_last=1),
            check=lambda ids: None if ids else "expire removed no snapshot")
    b.timed(
        "sweep", lambda: sweep_orphans(t, quarantine=False, older_than_seconds=0),
        check=lambda acted: None if acted else "sweep removed no orphan",
        probe=lambda op, acted: op.info.update(files_removed=len(acted)),
    )
    b.timed("rewrite_manifests", lambda: rewrite_manifests(t))
    b.timed("export", lambda: export_iceberg(t, export_dir),
            check=lambda p: None if os.path.exists(p) else f"export metadata {p} missing")
    b.extra["live_delete_files"] = len(t.delete_files())
    oracle_check(b, t, inp.base + [inp.fresh], [inp.b1.path, inp.b2.path], "maintain_full final state")


WORKLOADS = {"cdc_upsert": cdc_upsert, "maintain_full": maintain_full}
