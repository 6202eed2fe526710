"""Host pinning, session lifecycle, provenance and statistics shared by
the workloads."""

from __future__ import annotations

import math
import os
import platform
import resource
import statistics
import subprocess
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def pin_host(work: str) -> dict[str, str]:
    """Environment the engine reads at import/launch time: all host
    CPUs, spill and temp dirs inside the work dir, driver heap sized to
    a quarter of host RAM (1-4 GB), and the repo root on PYTHONPATH so
    Python UDF workers can import the engine package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4, max(1, int(host_ram_gb() // 4)))}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # no hsperfdata file: HotSpot writes it under /tmp whatever tmpdir
        # says; JIT compiler threads that never exit, so tree_cpu_s can
        # leave out all of their CPU time
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                              " -XX:-UseDynamicNumberOfCompilerThreads"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return env


def start_session(work: str, event_log: str | None):
    from imdb_metacritic_data_warehouse_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": "file:" + os.path.join(work, "spark-warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Python driver plus the Spark JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return py + jvm_peak_rss_mb(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _ticks(stat: str, first: int, last: int) -> int:
    """Sum of the numeric fields ``first:last`` after the command name of a
    ``/proc/.../stat`` line (11:13 utime, stime; 13:15 cutime, cstime)."""
    return sum(map(int, stat[stat.rindex(")") + 2:].split()[first:last]))


# JVM threads whose CPU time tree_cpu_s leaves out: JIT compilation and
# garbage collection.  /proc shows thread names cut to 15 characters.
HOUSEKEEPING = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
                "GC Thread#", "G1 ", "VM Thread")


def _housekeeping_ticks(pid: int) -> int:
    """CPU ticks of the live ``HOUSEKEEPING`` threads of process ``pid``
    (none for a process that is not a JVM).  Their time is only
    subtractable while they live: ``pin_host`` turns off HotSpot's
    dynamic compiler threads, which exit when idle; GC worker threads
    never exit."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(HOUSEKEEPING):
            ticks += _ticks(stat, 11, 13)
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the Spark JVM and its Python workers, with their reaped children),
    less the JVM's JIT and GC threads.  Time a process spends waiting
    for a CPU or on I/O, or that the hypervisor steals from the VM, is
    not counted, so differences of this clock follow the work done more
    closely than wall time does on a shared host.  JIT compilation and
    GC are left out because how much of them lands inside a given pass
    depends on how busy the host is and on when the heap fills, not on
    the pass: a G1 concurrent cycle that starts in one run's pass and
    not in another's moves pass CPU time by a tenth."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        procs[int(pid)] = (ppid, _ticks(stat, 11, 15))
    ticks, frontier = 0, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, t) in procs.items():
            if ppid == parent:
                ticks += t - _housekeeping_ticks(pid)
                frontier.append(pid)
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


class CpuTimer:
    """``Timer`` on ``tree_cpu_s``."""

    def __init__(self):
        self.c0 = tree_cpu_s()

    def s(self) -> float:
        return tree_cpu_s() - self.c0


def provenance(spark) -> dict:
    def git_commit() -> str | None:
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10)
            return out.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    return {
        "nproc": host_cpus(),
        "ram_gb": round(host_ram_gb(), 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted
    average of all order statistics, so it does not jump when the
    middle sample falls into a gap between two clusters of latencies."""
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = ((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
               - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)))
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf)) * (grid[1] - grid[0])])
    edges = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], grid]), cdf)
    edges[-1] = cdf[-1]
    w = np.diff(edges) / cdf[-1]
    return float(w @ xs)


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least ten samples beyond it
    (the max when there are fewer than twenty samples)."""
    n = len(samples)
    p = int(100 * (1 - 10 / n)) if n >= 20 else 100
    return (max(samples) if p == 100 else quantile(samples, p / 100)), p


def describe(e: Exception) -> str:
    """One-line failure record: exception type, message and the
    innermost frame of the traceback."""
    tb = traceback.extract_tb(e.__traceback__)
    where = f" at {os.path.basename(tb[-1].filename)}:{tb[-1].lineno}" if tb else ""
    return f"{type(e).__name__}{where}: {str(e)[:300]}"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Timer:
    def __init__(self):
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0
