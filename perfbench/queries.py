"""``light_queries``: a frozen mix of registered
queries, each run as build (the query-function call) + ``noop`` write,
in a seed-permuted order, closed loop, one client."""

from __future__ import annotations

import json
import os
import sys

import numpy as np

import common
import datagen
from tracing import Py4jCounter, Tracer, covered_s, group_parts, summarize


def _oracle_module():
    sys.path.insert(0, os.path.join(common.ROOT, "tools"))
    import check_oracle

    return check_oracle


class QueryWorkload:
    # the JIT is still compiling through the first measured pass: the
    # median of three or more passes keeps that pass out of pass_cpu_s
    min_passes, max_passes = 3, float("inf")

    def __init__(self, name: str, seed: int, work: str):
        import __spark_entry__ as entry

        with open(os.path.join(common.HERE, "mixes.json")) as f:
            mix = json.load(f)[name]
        self.name, self.seed = name, seed
        self.sf = mix["sf"]
        self.names = list(mix["queries"])
        fns = entry.queries()
        self.fns = {n: fns[n] for n in self.names}
        self.oracles = entry.oracle_sql()
        self.data = os.path.join(work, "data")
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    # -- set-up ---------------------------------------------------------
    def stage(self) -> None:
        datagen.write(self.data, self.seed, self.sf)

    def warmup_and_check(self, spark) -> float:
        """One pass of build + collect, each result compared with its
        DuckDB oracle.  Returns the Spark-side wall time only."""
        import duckdb

        oracle = _oracle_module()
        spark_s = 0.0
        with duckdb.connect() as con:
            for t in oracle.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for n in self.names:
                self.attempted += 1
                try:
                    t = common.Timer()
                    got = self.fns[n](spark, self.data).toPandas()
                    spark_s += t.s()
                    problems = oracle.compare(n, got, con.execute(self.oracles[n]).df())
                except Exception as e:  # noqa: BLE001 - any failure is a failed check
                    problems = [common.describe(e)]
                if problems:
                    self.failed += 1
                    self.problems.append(f"{n}: " + "; ".join(problems))
        return spark_s

    # -- measured passes ------------------------------------------------
    def run_pass(self, spark, tracer: Tracer, py4j: Py4jCounter | None) -> dict:
        ops, cpu, build_py4j = [], [], 0
        order = [self.names[i] for i in self.rng.permutation(len(self.names))]
        t, c = common.Timer(), common.CpuTimer()
        for n in order:
            self.attempted += 1
            try:
                q, qc = common.Timer(), common.CpuTimer()
                with tracer.span(n, "build"):
                    if py4j:
                        with py4j.counting() as calls:
                            df = self.fns[n](spark, self.data)
                        build_py4j += calls()
                    else:
                        df = self.fns[n](spark, self.data)
                with tracer.span(n, "exec"):
                    df.write.format("noop").mode("overwrite").save()
                ops.append((n, q.s()))
                cpu.append(qc.s())
            except Exception as e:  # noqa: BLE001
                self.failed += 1
                self.problems.append(f"{n}: {common.describe(e)}")
        return {"s": t.s(), "cpu_s": c.s(), "lat": [s for _, s in ops], "cpu": cpu,
                "ops": ops, "py4j": build_py4j}

    def extra_metrics(self, passes: list[dict], metrics: dict) -> dict:
        return {}

    # -- per-layer ------------------------------------------------------
    def layers(self, tracer: Tracer, jobs: list[dict], passes: list[dict]) -> dict:
        k = len(passes)
        mine = [j for j in jobs if group_parts(j["group"])[0] == self.name]
        build_jobs = [j for j in mine if group_parts(j["group"])[2] == "build"]
        builds = [s for s in tracer.spans if s["name"] == "build"]
        build_s = sum(s["s"] for s in builds)
        build_cover = covered_s(build_jobs)  # build spans never overlap
        ops = summarize(mine)
        pass_s = sum(p["s"] for p in passes)
        out = {
            "build_s": build_s / k,
            "build_driver_s": (build_s - build_cover) / k,
            "build_py4j_calls": sum(p["py4j"] for p in passes) / k,
            "entry_queries.build_s": build_s / k,
            "entry_queries.build_driver_s": (build_s - build_cover) / k,
            "entry_queries.py4j_calls": sum(p["py4j"] for p in passes) / k,
            "entry_queries.eager_jobs": len(build_jobs) / k,
            "entry_queries.eager_job_s": sum(j["t1"] - j["t0"] for j in build_jobs) / k,
        }
        for key, v in ops.items():
            out[f"operators.{key}"] = v if key == "busy_cores" else v / k
        out["operators.driver_gap_s"] = (pass_s - ops["exec_s"]) / k
        return out
