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
