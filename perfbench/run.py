#!/usr/bin/env python3
"""Engine benchmark: one closed-loop, single-client workload per call.

    python3 perfbench/run.py --workload light_queries --seed 1 --seconds 10 --trace 0

Run from the repo root.  Set-up (session start + seeded input staging,
``SETUP_REPS`` times, then one checked warm-up pass) is followed by
measured passes until ``--seconds`` have elapsed (at least one).  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the same workload runs with the Spark event log, job
groups, py4j counting and spans on, and the last line carries the
per-layer metrics.  The line before it is the full record (every
metric with unit and sample count, provenance, output-check problems),
also written to ``.perfbench_out/`` together with the spans file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

OUT = ".perfbench_out"
WORKLOADS = ("light_queries", "elt_history")
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build_s": "s", "build_driver_s": "s", "build_py4j_calls": "count",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.job_s": "s",
    "operators.task_s": "s", "operators.busy_cores": "cores",
    "operators.driver_gap_s": "s", "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes", "operators.gc_s": "s",
}


def record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")


def latest_untraced(workload: str) -> dict | None:
    """pass_s and seed of the newest untraced record of ``workload``."""
    paths = [os.path.join(OUT, f) for f in os.listdir(OUT)
             if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json")
             ] if os.path.isdir(OUT) else []
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        rec = json.load(f)
    return {"pass_s": rec["metrics"]["pass_s"]["value"], "seed": rec["seed"]}


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        worst = max(worst, subprocess.run(cmd).returncode)
    return worst


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(common.ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(common.ROOT, "imdb_metacritic_data_warehouse_spark")))


def make_workload(name: str, seed: int, work: str):
    if name == "elt_history":
        from elt import EltWorkload

        return EltWorkload(seed, work)
    from queries import QueryWorkload

    return QueryWorkload(name, seed, work)


def run(args, work: str) -> dict:
    from tracing import Py4jCounter, Tracer, jobs_by_group, read_event_log

    trace = bool(args.trace)
    wl = make_workload(args.workload, args.seed, work)
    starts, setups, spark = [], [], None
    for r in range(common.SETUP_REPS):
        t = common.Timer()
        if spark is not None:
            spark.stop()
        events = os.path.join(work, "events", str(r)) if trace else None
        spark = common.start_session(work, events)
        starts.append(t.s())
        wl.stage()
        setups.append(t.s())
    warmup_s = wl.warmup_and_check(spark)

    tracer, py4j = Tracer(spark, wl.name, False), None
    if trace:
        tracer, py4j = Tracer(spark, wl.name, True), Py4jCounter(spark)
        if hasattr(wl, "instrument"):
            wl.instrument(tracer, py4j)
    passes, clock = [], common.Timer()
    while len(passes) < wl.max_passes and (
            len(passes) < wl.min_passes or clock.s() < args.seconds):
        passes.append(wl.run_pass(spark, tracer, py4j))
    peak = common.peak_rss_mb(spark)
    prov = common.provenance(spark)
    common.stop_session(spark)

    lat = [x for p in passes for x in p["lat"]]
    cpu = [x for p in passes for x in p["cpu"]]
    tail_s, tail_p = common.tail(lat) if lat else (0.0, 100)
    rec = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "provenance": prov,
        "attempted": wl.attempted, "failed": wl.failed,
        "problems": wl.problems[:50],
        "latency_s": {op: [s for p in passes for o, s in p["ops"] if o == op]
                      for op in dict.fromkeys(o for p in passes for o, _ in p["ops"])},
        "metrics": {
            "setup_s": {"value": common.median(setups) + warmup_s, "unit": "s",
                        "n": len(setups)},
            "pass_s": {"value": common.median([p["s"] for p in passes]), "unit": "s",
                       "n": len(passes)},
            "query_p50_s": {"value": common.quantile(lat, 0.5), "unit": "s", "n": len(lat)},
            "query_tail_s": {"value": tail_s, "unit": "s", "n": len(lat),
                             "percentile": tail_p},
            "pass_cpu_s": {"value": common.median([p["cpu_s"] for p in passes]), "unit": "s",
                           "n": len(passes)},
            "query_cpu_p50_s": {"value": common.quantile(cpu, 0.5), "unit": "s", "n": len(cpu)},
            "peak_rss_mb": {"value": peak, "unit": "MB", "n": 1},
            "error_rate": {"value": wl.failed / max(wl.attempted, 1), "unit": "ratio",
                           "n": wl.attempted},
        },
    }
    rec["metrics"].update(wl.extra_metrics(passes, rec["metrics"]))
    if trace:
        jobs = jobs_by_group(read_event_log(events))  # the last session's log
        layers = wl.layers(tracer, jobs, passes)
        layers["session.start_s"] = common.median(starts)
        layers["session.warmup_s"] = warmup_s
        rec["layers"] = layers
        before = latest_untraced(args.workload)
        if before:
            rec["tracing_overhead_s"] = rec["metrics"]["pass_s"]["value"] - before["pass_s"]
            rec["tracing_overhead_vs_seed"] = before["seed"]
        rec["spans"] = os.path.join(OUT, f"{args.workload}-seed{args.seed}.spans.json")
        tracer.dump(rec["spans"])
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not engine_present():
        print(f"engine sources not found under {common.ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, common.ROOT)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.pin_host(work)
    try:
        rec = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(record_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))
    if args.trace:
        src, units = rec["layers"], PER_LAYER
    else:
        src, units = {k: v["value"] for k, v in rec["metrics"].items()}, END_TO_END
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": src[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
