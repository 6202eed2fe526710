"""Session defaults fit the host they run on."""

import os
import subprocess
import sys


def test_defaults_sized_to_host():
    """Without the env overrides a session uses every CPU this process
    may run on and a driver heap within physical memory.  Runs in a
    child interpreter because DEFAULT_CPUS is read at import."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    env["PYTHONPATH"] = repo
    proc = subprocess.run(
        [sys.executable, "-c",
         "from imdb_metacritic_data_warehouse_spark import session as s; "
         "print(s.DEFAULT_CPUS, s.driver_mem())"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    cpus, mem = proc.stdout.split()
    assert int(cpus) == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert mem.endswith("g"), mem
    assert 1 <= int(mem[:-1]) and int(mem[:-1]) * 2**20 <= total_kb, (mem, total_kb)


_COUNT_COLUMN_BUILD = """
from pyspark.sql import functions as F
from imdb_metacritic_data_warehouse_spark.session import get_spark
from perfbench.tracing import Py4jCounter

spark = get_spark("call_site_probe", cpus=1)
py4j = Py4jCounter(spark)
counts = []
for _ in range(2):
    with py4j.counting() as sent:
        F.col("x").cast("string").alias("y")
    counts.append(sent())
print(*counts)
spark.stop()
"""


def test_column_calls_skip_call_site_capture():
    """A Column expression built in a get_spark session costs a few py4j
    round trips, with no per-call stack walk recording the Python call
    site (35 commands for this expression with the capture on).  Runs in
    a child interpreter because PySpark caches the capture flag for the
    whole process at its first Column call."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, "-c", _COUNT_COLUMN_BUILD],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = map(int, proc.stdout.split()[-2:])
    assert second <= 6, (first, second)
