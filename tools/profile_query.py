"""Per-job wall-clock profile of one query via the event log.

Usage:  SPARK_GRAFT_SF_DIR=... python tools/profile_query.py <name> [<name>...]

Runs each query once as warm-up, then once measured with
spark.eventLog.enabled=true, and prints two driver counts of the
measured run: the py4j commands its build call (the query function)
sent, and the classes Janino compiled for build + execution (zero when
the JVM's code cache still holds the warm-up's classes).  Then each job
of the measured run: wall, executor-task time, shuffle read/write
bytes, and its label (the ``materialize:<step>`` description of an
eager materialization, else the job's call site).  The measured build +
execution runs under the job group ``<name>``, and jobs are selected by
that group, never by time, so no warm-up job is counted.  Sessions run
with spark.ui.enabled=false, so the event log is the only source of
stage metrics.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import Py4jCounter, jobs_by_group, read_event_log  # noqa: E402


def measured_jobs(events: list[dict], group: str) -> list[dict]:
    """The finished jobs submitted under job group ``group``, in
    submission order, each with a ``label``."""
    label = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            label[e["Job ID"]] = desc if desc != group else props.get("callSite.short", "")
    jobs = [dict(j, label=label[j["job"]]) for j in jobs_by_group(events) if j["group"] == group]
    return sorted(jobs, key=lambda j: (j["t0"], j["job"]))


def report(name: str, jobs: list[dict], t0: float, t1: float) -> None:
    print(f"\n=== {name} ({t1 - t0:.3f}s wall) — jobs of the measured run ===")
    tot_gap = 0.0
    prev_end = t0
    for j in jobs:
        gap = j["t0"] - prev_end
        tot_gap += max(gap, 0)
        prev_end = max(prev_end, j["t1"])
        print(
            f"job {j['job']:3d}  wall {j['t1'] - j['t0']:7.3f}s  gap_before {gap:6.3f}s  "
            f"task {j['task_s']:7.2f}s  shR {j['shuffle_read_bytes'] / 1e6:7.2f}MB "
            f"shW {j['shuffle_write_bytes'] / 1e6:7.2f}MB  {j['label']}"
        )
    print(f"total driver gap between jobs: {tot_gap:.3f}s")


def run(names: list[str]) -> None:
    import __spark_entry__ as ent
    from imdb_metacritic_data_warehouse_spark.session import (
        generated_class_compiles,
        get_spark,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = "/tmp/spark-events-profile"
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
    sc = spark.sparkContext
    qs = ent.queries()
    py4j = Py4jCounter(spark)
    marks: dict[str, tuple[float, float]] = {}
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
        spark._jvm.System.gc()
        compiles0 = generated_class_compiles(spark)
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            with py4j.counting() as sent:
                df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        marks[name] = (t0, t1)
        print(
            f"== {name}: measured wall {t1 - t0:.3f}s  "
            f"build py4j commands {sent()}  "
            f"generated-class compiles {generated_class_compiles(spark) - compiles0}"
        )
    spark.stop()

    events = read_event_log(log_dir)
    for name, (t0, t1) in marks.items():
        report(name, measured_jobs(events, name), t0, t1)


if __name__ == "__main__":
    run(sys.argv[1:])
