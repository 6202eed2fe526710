"""Per-job/per-stage wall-clock profile of one query via the event log.

Usage:  SPARK_GRAFT_SF_DIR=... python tools/profile_query.py <name> [<name>...]

Runs each query once as warm-up, then once measured with
spark.eventLog.enabled=true, and prints two driver counts of the
measured run: the py4j commands its build call (the query function)
sent, and the classes Janino compiled for build + execution (zero when
the JVM's code cache still holds the warm-up's classes).  Then each job
of the measured run: wall ms, executor-task ms, shuffle read/write
bytes, and the callsite of the job.  This is guide §1 ("measure
first") without the UI — the sandbox runs with spark.ui.enabled=false,
so the event log is the only source of stage metrics.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent  # noqa: E402
from imdb_metacritic_data_warehouse_spark.session import (  # noqa: E402
    generated_class_compiles,
    get_spark,
)
from perfbench.tracing import Py4jCounter  # noqa: E402

# Jobs submitted up to this long before a measured window opens still
# count toward it (event-log times are epoch milliseconds).
WINDOW_SLACK_MS = 5000


def run(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = "/tmp/spark-events-profile"
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = ent.queries()
    py4j = Py4jCounter(spark)
    marks: dict[str, tuple[float, float]] = {}
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
        spark._jvm.System.gc()
        compiles0 = generated_class_compiles(spark)
        t0 = time.time() * 1000
        with py4j.counting() as sent:
            df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        t1 = time.time() * 1000
        marks[name] = (t0, t1)
        print(
            f"== {name}: measured wall {(t1 - t0) / 1000:.3f}s  "
            f"build py4j commands {sent()}  "
            f"generated-class compiles {generated_class_compiles(spark) - compiles0}"
        )
    spark.stop()

    events = []
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if "appstatus" not in f:
                paths.append(os.path.join(root, f))
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass

    jobs: dict[int, dict] = {}
    stage_of_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "t0": e["Submission Time"],
                "site": e.get("Properties", {}).get("callSite.short", ""),
                "desc": e.get("Properties", {}).get("spark.job.description", ""),
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
            }
            for s in e.get("Stage Infos", []):
                stage_of_job[s["Stage ID"]] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.setdefault(si["Stage ID"], {})
            st.update(
                name=si.get("Stage Name", ""),
                tasks=si.get("Number of Tasks", 0),
                t0=si.get("Submission Time", 0),
                t1=si.get("Completion Time", 0),
            )
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, {})
            m = e.get("Task Metrics") or {}
            st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
            sr = (m.get("Shuffle Read Metrics") or {})
            st["sh_read"] = st.get("sh_read", 0) + sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = (m.get("Shuffle Write Metrics") or {})
            st["sh_write"] = st.get("sh_write", 0) + sw.get("Shuffle Bytes Written", 0)

    for name, (t0, t1) in marks.items():
        print(f"\n=== {name} ({(t1 - t0) / 1000:.3f}s wall) — jobs in measured window ===")
        tot_gap = 0.0
        prev_end = t0
        for jid in sorted(jobs):
            j = jobs[jid]
            if j["t0"] < t0 - WINDOW_SLACK_MS or j["t0"] > t1:
                continue
            wall = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            gap = (j["t0"] - prev_end) / 1000
            tot_gap += max(gap, 0)
            prev_end = j.get("t1", j["t0"])
            task_ms = sum(stages.get(s, {}).get("task_ms", 0) for s in j["stages"])
            shr = sum(stages.get(s, {}).get("sh_read", 0) for s in j["stages"])
            shw = sum(stages.get(s, {}).get("sh_write", 0) for s in j["stages"])
            n_stage = len([s for s in j["stages"] if stages.get(s, {}).get("t1")])
            sname = ""
            for s in j["stages"]:
                if stages.get(s, {}).get("t1"):
                    sname = stages[s].get("name", "")[:60]
            print(
                f"job {jid:3d}  wall {wall:7.3f}s  gap_before {gap:6.3f}s  "
                f"stages {n_stage}/{len(j['stages'])}  task {task_ms/1000:7.2f}s  "
                f"shR {shr/1e6:7.2f}MB shW {shw/1e6:7.2f}MB  {j['site'] or j['desc'] or sname}"
            )
        print(f"total driver gap between jobs: {tot_gap:.3f}s")


if __name__ == "__main__":
    run(sys.argv[1:])
