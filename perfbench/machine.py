"""Machine fit and interference audit.

`fit_environment` sizes Spark to the machine before the session starts:
every core (`SPARK_GRAFT_CPUS`), a driver heap that fits in RAM
(`SPARK_DRIVER_MEM`) and shuffle/spill space inside the work directory
(`SPARK_LOCAL_DIRS`). `Audit` samples the same signals as
tools/bench_scaling.py: load average, hypervisor steal from /proc/stat, and
CPU burned by processes outside this run's process tree, so a noisy run
shows in its record.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb() -> int:
    """A quarter of RAM, between 1 and 4 GiB: the benchmark's tables are a
    few hundred MB, and the machine's memory is shared."""
    return max(1, min(4, mem_total_bytes() // (4 << 30)))


def fit_environment(work_dir: str) -> dict:
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # JVM temp files and the console progress bar; the session factory
        # does not set these. A run lives about a minute: C1-only JIT and
        # the serial collector reach steady state inside the warm-up, where
        # C2 compiler and parallel GC threads would keep competing with
        # Spark's tasks for the cores during the timed phase.
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        # every JVM of the run, spark-submit's launcher included: no
        # hsperfdata files in /tmp, outside the work directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped children)."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return procs


def descendants(root_pid: int, procs: dict[int, tuple[int, int]] | None = None) -> set[int]:
    """Every live process below *root_pid* in the process tree."""
    procs = _proc_stats() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    stack = [root_pid]
    while stack:
        for c in children.get(stack.pop(), []):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def tree_cpu_sec(root_pid: int) -> float:
    """CPU seconds used so far by *root_pid* and all its descendants (the
    driver, the JVM and the Python workers), including reaped children."""
    procs = _proc_stats()
    pids = descendants(root_pid, procs) | {root_pid}
    return sum(procs[p][1] for p in pids if p in procs) / CLK_TCK


class Audit:
    def __init__(self) -> None:
        import time

        self._t0 = time.monotonic()
        self._cpu0 = _cpu_fields()
        self._tree0 = tree_cpu_sec(os.getpid())
        self.load_start = os.getloadavg()[0]

    def finish(self) -> dict:
        """Call before the Spark session stops, so the JVM is still in the tree."""
        import time

        wall = max(time.monotonic() - self._t0, 1e-9)
        cpu1 = _cpu_fields()
        busy = (sum(cpu1[:3]) - sum(self._cpu0[:3])) / CLK_TCK  # user+nice+system
        steal = (cpu1[7] - self._cpu0[7]) / CLK_TCK if len(cpu1) > 7 else 0.0
        ours = tree_cpu_sec(os.getpid()) - self._tree0
        return {
            "cores": cores(),
            "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
            "loadavg_start": round(self.load_start, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "wall_s": round(wall, 2),
            "steal_cores": round(steal / wall, 3),
            "run_cpu_cores": round(ours / wall, 3),
            "other_cpu_cores": round(max(0.0, busy - ours) / wall, 3),
        }
