"""Tracing for the benchmark's traced runs.

Three independent pieces, all driven from outside the engine:

- ``Tracer``: in-memory spans (name, start, end, parent, op) and the
  Spark job group ``<workload>/<op>/<phase>`` set before every call, so
  event-log jobs are attributed by the group they ran under, never by
  time windows.
- ``Py4jCounter``: counts py4j commands sent by the Python driver,
  excluding the memory-release commands the Python GC sends on its own
  schedule (those make counts depend on GC timing).
- ``read_event_log`` / ``jobs_by_group``: parse a Spark event log into
  per-job records keyed by job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# py4j protocol: "m\nd\n<id>" releases a Java object the Python side
# garbage-collected; its timing follows the Python GC, not the query.
_MEMORY_RELEASE = "m\nd\n"


class Py4jCounter:
    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self.active = False
        inner = self.client.send_command

        def send_command(command, *args, **kwargs):
            if self.active and not command.startswith(_MEMORY_RELEASE):
                self.count += 1
            return inner(command, *args, **kwargs)

        self.client.send_command = send_command

    @contextmanager
    def counting(self):
        start, self.active = self.count, True
        try:
            yield lambda: self.count - start
        finally:
            self.active = False


class Tracer:
    """Spans plus job groups.  With ``enabled=False`` every call is a
    plain timer: no job group is set and no span is kept."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def current_op(self) -> str | None:
        return self._stack[-1]["op"] if self._stack else None

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            group = f"{self.workload}/{top['op']}/{top['name']}"
            self.sc.setJobGroup(group, group)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, op: str, phase: str):
        """Time one call; yields a dict whose ``s`` holds the duration."""
        rec = {"name": phase, "op": op, "start": time.time(),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans)}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec)
            self._set_group()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["s"]
            if self.enabled:
                self._stack.pop()
                self._set_group()

    def self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus that of direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["s"]
        return [dict(s, self_s=s["s"] - child[s["id"]]) for s in self.spans]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.self_times(), f)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".inprogress"):
                continue
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass
    return events


def jobs_by_group(events: list[dict]) -> list[dict]:
    """One record per finished job: its group, start/end (epoch s) and
    the summed task metrics of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = dict(
                job=e["Job ID"], group=props.get("spark.jobGroup.id"),
                t0=e["Submission Time"] / 1000, t1=None, task_s=0.0, gc_s=0.0,
                shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                input_bytes=0, output_bytes=0, output_rows=0)
            for sid in e.get("Stage IDs") or [s["Stage ID"] for s in e.get("Stage Infos", [])]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            j = jobs[stage_job[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            j["task_s"] += m.get("Executor Run Time", 0) / 1000
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000
            j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            out = m.get("Output Metrics") or {}
            j["output_bytes"] += out.get("Bytes Written", 0)
            j["output_rows"] += out.get("Records Written", 0)
    return [j for j in jobs.values() if j["t1"] is not None]


def covered_s(jobs: list[dict]) -> float:
    """Wall time during which at least one of ``jobs`` was running."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j["t0"]):
        if j["t1"] > end:
            total += j["t1"] - max(j["t0"], end)
            end = j["t1"]
    return total


def summarize(jobs: list[dict]) -> dict[str, float]:
    """The ``operators`` layer over a set of jobs."""
    job_s = sum(j["t1"] - j["t0"] for j in jobs)
    task_s = sum(j["task_s"] for j in jobs)
    return {
        "exec_s": covered_s(jobs),
        "jobs": len(jobs),
        "job_s": job_s,
        "task_s": task_s,
        "busy_cores": task_s / job_s if job_s else 0.0,
        "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
    }


def group_parts(group: str | None) -> tuple[str, str, str]:
    """``<workload>/<op>/<phase>`` → its three parts (op may contain '/')."""
    if not group or group.count("/") < 2:
        return ("", "", "")
    workload, rest = group.split("/", 1)
    op, phase = rest.rsplit("/", 1)
    return workload, op, phase
