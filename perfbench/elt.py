"""``elt_history``: B seeded bronze batches landed into an empty
warehouse, each followed by the full ``run_table`` sweep (``STG_ORDER``
then ``MART_ORDER``) and a set of mart reads through
``register_views()``.  Batch 0, the initial load, is the warm-up; the
measured pass is the merge batches after it.  After every batch,
untimed, DuckDB checks the committed files: SCD2 invariants, key
uniqueness, merge outcomes against the generator, and every mart
read's result."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import common
import eltgen
from queries import _oracle_module
from tracing import Py4jCounter, Tracer, covered_s, group_parts, summarize

N_MOVIES = 600
N_BATCHES = 3  # batch 0 is the warm-up (initial load); the pass merges the rest
READ_REPS = 2  # 24 read latencies a pass: query_tail_s is their p58
OPEN_TS = "9999-12-31 00:00:00"
SCD2_TABLES = ["movie_info_sat", "movie_genre_link", "movie_emp_link", "emp_movie_l_sat"]
# tables (schema, name, versions back) each mart read scans
READ_TABLES = {
    "movie_data_lookup": [("data_mart", "movie_data", 0)],
    "person_lookup": [("data_mart", "movie_employee_link", 0)],
    "genre_metrics_scan": [("data_mart", "genre_metrics", 0)],
    "rating_slide_top": [("data_mart", "rating_slide", 0)],
    "movie_info_sat_as_of": [("stg", "movie_info_sat", 0)],
    "movie_data_change_feed": [("data_mart", "movie_data", 0), ("data_mart", "movie_data", 1)],
}
BRONZE = ["movie_raw_data_imdb", "movie_raw_data_metacritic",
          "actor_raw_data_imdb", "actor_raw_data_metacritic"]


def batch_ts(k: int) -> str:
    return f"2024-0{1 + k}-01 00:00:00"


def scan(path: str) -> str:
    """DuckDB scan of every parquet file under ``path``; the ``v=N`` and
    ``is_open=`` directory names are layout, not columns."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class EltWorkload:
    name = "elt_history"
    min_passes = max_passes = 1  # a pass consumes the generated merge batches

    def __init__(self, seed: int, work: str):
        from imdb_metacritic_data_warehouse_spark import registry

        self.registry = registry
        self.seed, self.work = seed, work
        self.staged = os.path.join(work, "staged")
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.batches: list[eltgen.Batch] = []
        self.input_bytes: list[int] = []
        self.py4j_build = 0

    # -- set-up ---------------------------------------------------------
    def stage(self) -> None:
        if not self.batches:  # deterministic: generate once, write every set-up
            self.batches = eltgen.batches(self.seed, N_MOVIES, N_BATCHES)
        self.input_bytes = []
        for k, b in enumerate(self.batches):
            total = 0
            for t in BRONZE:
                path = os.path.join(self.staged, f"b{k}", f"{t}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(b.arrow(t), path)
                total += os.path.getsize(path)
            self.input_bytes.append(total)

    def warmup_and_check(self, spark) -> float:
        """Batch 0, the initial load into the empty warehouse, with its
        reads and checks: the JVM compiles the ELT and read paths before
        the measured merge batches."""
        from imdb_metacritic_data_warehouse_spark.plans import Warehouse

        root = os.path.join(self.work, "warehouse")
        self.bronze_root = os.path.join(root, "bronze")
        self.wh = Warehouse(spark, self.bronze_root, os.path.join(root, "wh"))
        return self._batches(spark, [0], Tracer(spark, self.name, False), reps=1)["s"]

    def run_pass(self, spark, tracer: Tracer, py4j: Py4jCounter | None) -> dict:
        """Merge batches 1..B-1 on top of the initial load."""
        return self._batches(spark, range(1, N_BATCHES), tracer, READ_REPS)

    def _batches(self, spark, ks, tracer: Tracer, reps: int) -> dict:
        from imdb_metacritic_data_warehouse_spark.sources.bronze import (
            BRONZE_SCHEMAS, write_bronze)

        wh, bronze_root = self.wh, self.bronze_root
        rec = {"s": 0.0, "cpu_s": 0.0, "lat": [], "cpu": [], "ops": [], "batch_s": [],
               "batch_cpu_s": [], "written": [], "input": [], "scd2": {}, "files_read": 0}
        py4j0 = self.py4j_build
        for k in ks:
            ts = batch_ts(k)
            c = common.CpuTimer()
            with tracer.span(f"batch{k}", "land") as land:
                for name in BRONZE:
                    df = spark.read.schema(BRONZE_SCHEMAS[name]).parquet(
                        os.path.join(self.staged, f"b{k}", f"{name}.parquet"))
                    write_bronze(df, bronze_root, name)
            sweep, sweep_cpu = common.Timer(), common.CpuTimer()
            for schema, order in (("stg", self.registry.STG_ORDER),
                                  ("data_mart", self.registry.MART_ORDER)):
                for name in order:
                    self.attempted += 1
                    try:
                        with tracer.span(name, "run_table") as call:
                            wh.run_table(schema, name, ts)
                        rec["ops"].append((f"run_table/{name}", call["s"]))
                    except Exception as e:  # noqa: BLE001
                        self.failed += 1
                        self.problems.append(f"batch {k} {name}: {common.describe(e)}")
            rec["batch_s"].append(sweep.s())
            rec["batch_cpu_s"].append(sweep_cpu.s())
            batch_cpu = c.s()
            n_lat = len(rec["lat"])
            self.attempted += 1
            try:
                c = common.CpuTimer()
                with tracer.span(f"batch{k}", "register_views") as views:
                    wh.register_views()
                batch_cpu += c.s()
                results = self._reads(spark, wh, k, tracer, rec, reps)
            except Exception as e:  # noqa: BLE001 - views or read plans over a failed batch
                self.failed += 1
                self.problems.append(f"batch {k} reads: {common.describe(e)}")
                views, results = {"s": 0.0}, []
            rec["s"] += land["s"] + rec["batch_s"][-1] + views["s"] + sum(rec["lat"][n_lat:])
            rec["cpu_s"] += batch_cpu + sum(rec["cpu"][n_lat:])
            rec["written"].append(sum(du(self.version_path(wh, s, n))[0]
                                      for (s, n) in self.registry.ALL_SPECS))
            rec["input"].append(self.input_bytes[k])
            for table, got in self._check(wh, k, results).items():
                acc = rec["scd2"].setdefault(table, dict.fromkeys(got, 0))
                for key, v in got.items():
                    acc[key] += v
        rec["stored"] = du(wh.root)[0] + du(
            os.path.join(self.warehouse_dir(), f"{wh.catalog_database()}.db"))[0]
        rec["live"] = sum(du(self.version_path(wh, s, n))[0] for (s, n) in self.registry.ALL_SPECS)
        rec["py4j"] = self.py4j_build - py4j0
        return rec

    def warehouse_dir(self) -> str:
        return os.path.join(self.work, "spark-warehouse")

    def version_path(self, wh, schema: str, name: str, back: int = 0) -> str:
        """Directory of a committed version; a path that does not exist
        when the table has none (its ``run_table`` failed)."""
        tab = wh.table(schema, name)
        v = tab.current_version()
        return self._dir_of(tab, v - back) if v else os.path.join(self.work, "uncommitted")

    # -- mart reads -----------------------------------------------------
    def _read_plan(self, spark, wh, k: int) -> list[tuple[str, callable, str]]:
        """(name, Spark DataFrame builder, DuckDB SQL) per read."""
        from pyspark.sql import functions as F

        from imdb_metacritic_data_warehouse_spark.operators.snapshots import pit_join
        from imdb_metacritic_data_warehouse_spark.sources.table import version_diff

        b = self.batches[k]
        name, dur, url = b.movies[int(self.rng.integers(0, len(b.movies)))]
        tid = eltgen.title_item_id(name, dur, url)
        person = b.people[int(self.rng.integers(0, len(b.people)))]
        p = {t: self.version_path(wh, "data_mart", t) for t in self.registry.MART_ORDER}
        reads = [
            ("movie_data_lookup",
             lambda: spark.sql(f"SELECT * FROM data_mart_movie_data WHERE title_item_id = '{tid}'"),
             f"SELECT * FROM {scan(p['movie_data'])} WHERE title_item_id = '{tid}'"),
            ("person_lookup",
             lambda: spark.sql("SELECT * FROM data_mart_movie_employee_link "
                               f"WHERE emp_nm = '{person}'"),
             f"SELECT * FROM {scan(p['movie_employee_link'])} WHERE emp_nm = '{person}'"),
            ("genre_metrics_scan",
             lambda: spark.sql("SELECT * FROM data_mart_genre_metrics"),
             f"SELECT * FROM {scan(p['genre_metrics'])}"),
            ("rating_slide_top",
             lambda: spark.sql("SELECT * FROM data_mart_rating_slide WHERE current_place <= 20"),
             f"SELECT * FROM {scan(p['rating_slide'])} WHERE current_place <= 20"),
        ]
        # batch 0 has no earlier batch: read as of itself and diff its
        # version against itself, so every batch runs the same six reads
        back = 1 if k else 0
        prev = batch_ts(k - back)
        ids = sorted({eltgen.title_item_id(*m) for m in self.batches[k - back].movies})
        probe_ids = [ids[i] for i in self.rng.choice(len(ids), min(50, len(ids)), replace=False)]
        sat = self.version_path(wh, "stg", "movie_info_sat")
        cols = [c for c, _ in self.registry.ALL_SPECS[("stg", "movie_info_sat")].columns]
        id_list = ", ".join(f"('{i}')" for i in probe_ids)

        def as_of():
            probes = spark.createDataFrame([(i,) for i in probe_ids], "title_item_id string")
            probes = probes.withColumn("as_of", F.lit(prev).cast("timestamp"))
            hist = wh.read("stg", "movie_info_sat")
            out = pit_join(probes, hist, "title_item_id", "as_of")
            return out.select(*[F.col(c).cast("string") if c in ("as_of", "valid_from", "valid_to")
                                else F.col(c) for c in out.columns])

        sel = ", ".join(f"h.{c}" for c in cols if c != "title_item_id")
        as_of_sql = (
            f"SELECT p.title_item_id, CAST(TIMESTAMP '{prev}' AS VARCHAR) AS as_of, {sel}, "
            "strftime(h.valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from, "
            "strftime(h.valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to "
            f"FROM (VALUES {id_list}) p(title_item_id) "
            f"JOIN {scan(sat)} h "
            f"ON h.title_item_id = p.title_item_id AND h.valid_from <= TIMESTAMP '{prev}' "
            f"AND TIMESTAMP '{prev}' < h.valid_to")
        mcols = [c for c, _ in self.registry.ALL_SPECS[("data_mart", "movie_data")].columns]
        new, old = p["movie_data"], self.version_path(wh, "data_mart", "movie_data", back=back)
        movie_data = wh.table("data_mart", "movie_data")
        v_from = movie_data.current_version() - back
        differs = " OR ".join(f"n.{c} IS DISTINCT FROM o.{c}" for c in mcols[1:])
        diff_sql = (
            f"WITH n AS (SELECT * FROM {scan(new)}), o AS (SELECT * FROM {scan(old)}) "
            "SELECT 'insert' AS change_type, n.* FROM n ANTI JOIN o USING (title_item_id) "
            "UNION ALL SELECT 'delete', o.* FROM o ANTI JOIN n USING (title_item_id) "
            "UNION ALL SELECT 'update', n.* FROM n JOIN o USING (title_item_id) "
            f"WHERE {differs}")
        reads += [
            ("movie_info_sat_as_of", as_of, as_of_sql),
            ("movie_data_change_feed",
             lambda: version_diff(movie_data, "title_item_id", v_from=v_from),
             diff_sql),
        ]
        return reads

    def _reads(self, spark, wh, k: int, tracer: Tracer, rec: dict, reps: int) -> list:
        """Runs each mart read ``reps`` times; only the calls are timed.
        Returns (name, first result, DuckDB SQL) per read."""
        reads = self._read_plan(spark, wh, k)
        files = {n: sum(du(self.version_path(wh, s, t, back))[1] for s, t, back in READ_TABLES[n])
                 for n, _, _ in reads}
        results = []
        for rep in range(reps):
            for name, build, sql in reads:
                self.attempted += 1
                try:
                    t, c = common.Timer(), common.CpuTimer()
                    with tracer.span(name, "read"):
                        got = build().toPandas()
                    rec["lat"].append(t.s())
                    rec["cpu"].append(c.s())
                    rec["ops"].append((name, rec["lat"][-1]))
                    rec["files_read"] += files[name]
                    if rep == 0:
                        results.append((name, got, sql))
                except Exception as e:  # noqa: BLE001
                    self.failed += 1
                    self.problems.append(f"batch {k} read {name}: {common.describe(e)}")
        return results

    # -- untimed checks -------------------------------------------------
    def _check(self, wh, k: int, results: list) -> dict[str, dict[str, int]]:
        """Checks batch ``k``; returns the merge outcome per SCD2 table."""
        self.attempted += 1
        try:
            problems, outcome = self._problems(wh, k, results)
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            problems, outcome = [f"check {common.describe(e)}"], {}
        if problems:
            self.failed += 1
            self.problems.extend(f"batch {k}: {p}" for p in problems)
        return outcome

    def _problems(self, wh, k: int, results: list) -> tuple[list[str], dict]:
        with duckdb.connect() as con:
            return self._problems_in(con, wh, k, results)

    def _problems_in(self, con, wh, k: int, results: list) -> tuple[list[str], dict]:
        ts = batch_ts(k)
        problems, outcome = [], {}
        expected = eltgen.expected_scd2(self.batches[k - 1] if k else None, self.batches[k])
        for t in SCD2_TABLES:
            pk = self.registry.ALL_SPECS[("stg", t)].pk
            src = scan(self.version_path(wh, "stg", t))
            multi_open, overlaps, ins, closed, unch = con.execute(f"""
                WITH h AS (SELECT {pk} AS pk, valid_from, valid_to FROM {src}),
                o AS (SELECT pk FROM h WHERE valid_to = TIMESTAMP '{OPEN_TS}'
                      GROUP BY pk HAVING count(*) > 1),
                s AS (SELECT *, lead(valid_from) OVER (PARTITION BY pk ORDER BY valid_from) AS nxt
                      FROM h)
                SELECT (SELECT count(*) FROM o),
                       (SELECT count(*) FROM s WHERE valid_from >= valid_to OR nxt < valid_to),
                       (SELECT count(*) FROM h WHERE valid_from = TIMESTAMP '{ts}'),
                       (SELECT count(*) FROM h WHERE valid_to = TIMESTAMP '{ts}'),
                       (SELECT count(*) FROM h WHERE valid_to = TIMESTAMP '{OPEN_TS}'
                                                AND valid_from < TIMESTAMP '{ts}')
            """).fetchone()
            outcome[t] = {"inserted": ins, "closed": closed, "unchanged": unch}
            if multi_open or overlaps:
                problems.append(f"{t}: {multi_open} pks with >1 open row, {overlaps} overlaps")
            if outcome[t] != expected[t]:
                problems.append(f"{t}: merge outcome {outcome[t]} != generator {expected[t]}")
        for (schema, name), spec in self.registry.ALL_SPECS.items():
            if spec.scd2:
                continue
            path = self.version_path(wh, schema, name)
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT coalesce({spec.pk}, '<null>')) "
                f"FROM {scan(path)}"
            ).fetchone()
            if n != distinct:
                problems.append(f"{schema}.{name}: {n - distinct} duplicate keys")
        oracle = _oracle_module()
        for name, got, sql in results:
            try:
                issues = oracle.compare(name, got, con.execute(sql).df())
            except Exception as e:  # noqa: BLE001
                issues = [common.describe(e)]
            if issues:
                problems.append(f"read {name}: " + "; ".join(issues))
        return problems, outcome

    def extra_metrics(self, passes: list[dict], metrics: dict) -> dict:
        """The ELT-only end-to-end metrics of the record."""
        batches = [s for p in passes for s in p["batch_s"]]
        per_batch = [w / b for p in passes for w, b in zip(p["written"], p["input"])]
        return {
            "elt_batch_p50_s": {"value": common.median(batches), "unit": "s",
                                "n": len(batches)},
            "elt_last_batch_s": {"value": common.median([p["batch_s"][-1] for p in passes]),
                                 "unit": "s", "n": len(passes)},
            "elt_batch_cpu_p50_s": {
                "value": common.median([s for p in passes for s in p["batch_cpu_s"]]),
                "unit": "s", "n": len(batches)},
            "mart_read_p50_s": dict(metrics["query_p50_s"]),
            "mart_read_tail_s": dict(metrics["query_tail_s"]),
            "written_bytes_per_input_byte": {"value": common.median(per_batch),
                                             "unit": "ratio", "n": len(per_batch)},
            "stored_bytes_per_input_byte": {
                "value": passes[-1]["stored"] / common.median(self.input_bytes),
                "unit": "ratio", "n": 1},
        }

    # -- per-layer ------------------------------------------------------
    def layers(self, tracer: Tracer, jobs: list[dict], passes: list[dict]) -> dict:
        k = len(passes)
        mine = [j for j in jobs if group_parts(j["group"])[0] == self.name]

        def jobs_of(op=None, phase=None):
            return [j for j in mine
                    if op in (None, group_parts(j["group"])[1])
                    and phase in (None, group_parts(j["group"])[2])]

        def span_s(phase, op=None):
            return sum(s["s"] for s in tracer.spans
                       if s["name"] == phase and op in (None, s["op"])) / k

        out: dict[str, float] = {}
        for schema, order in (("stg", self.registry.STG_ORDER),
                              ("data_mart", self.registry.MART_ORDER)):
            for name in order:
                js = jobs_of(name)
                s = span_s("run_table", name)
                out[f"plans.{name}.s"] = s
                out[f"plans.{name}.task_s"] = sum(j["task_s"] for j in js) / k
                out[f"plans.{name}.driver_s"] = s - covered_s(js) / k
                out[f"plans.{name}.shuffle_write_bytes"] = sum(
                    j["shuffle_write_bytes"] for j in js) / k
            out[f"plans.{schema}_s"] = sum(out[f"plans.{n}.s"] for n in order)
        build_s = span_s("build")
        out["build_s"] = build_s
        out["build_driver_s"] = build_s - covered_s(jobs_of(phase="build")) / k
        out["build_py4j_calls"] = sum(p["py4j"] for p in passes) / k
        writes = jobs_of(phase="write")
        scd2_rows = sum(j["output_rows"] for j in writes
                        if group_parts(j["group"])[1] in SCD2_TABLES)
        changed = sum(c["inserted"] + c["closed"] for p in passes for c in p["scd2"].values())
        out.update({
            "sources.table.write_s": span_s("write"),
            "sources.table.bytes_written": sum(j["output_bytes"] for j in writes) / k,
            "sources.table.files_written": sum(
                s.get("files", 0) for s in tracer.spans if s["name"] == "write") / k,
            "sources.table.rows_written": sum(j["output_rows"] for j in writes) / k,
            "sources.table.live_bytes": passes[-1]["live"],
            "sources.table.closed_rows": sum(c["closed"] for c in passes[-1]["scd2"].values()),
            "sources.table.rewrite_ratio": scd2_rows / changed if changed else 0.0,
            "sources.table.read_s": span_s("read"),
            "sources.table.bytes_read": sum(j["input_bytes"] for j in jobs_of(phase="read")) / k,
            "sources.table.files_read": sum(p["files_read"] for p in passes) / k,
            "sources.bronze.write_s": span_s("land"),
        })
        for t, c in passes[-1]["scd2"].items():
            for key, v in c.items():
                out[f"operators.scd2.{t}.{key}"] = v
        ops = summarize(mine)
        for key, v in ops.items():
            out[f"operators.{key}"] = v if key == "busy_cores" else v / k
        out["operators.driver_gap_s"] = (sum(p["s"] for p in passes) - ops["exec_s"]) / k
        return out

    def instrument(self, tracer: Tracer, py4j: Py4jCounter) -> None:
        """Wrap the builders and the two table classes' ``write`` (from
        here, not in the engine) so their calls become spans."""
        from imdb_metacritic_data_warehouse_spark.plans import core, marts
        from imdb_metacritic_data_warehouse_spark.sources.bucketed import BucketedVersionedTable
        from imdb_metacritic_data_warehouse_spark.sources.table import VersionedParquetTable

        def wrap_builder(fn, table):
            def build(wh):
                with tracer.span(table, "build"), py4j.counting() as calls:
                    out = fn(wh)
                self.py4j_build += calls()
                return out
            return build

        def wrap_write(fn):
            def write(tab, df, *args, **kwargs):
                with tracer.span(tracer.current_op() or tab.name, "write") as rec:
                    v = fn(tab, df, *args, **kwargs)
                rec["files"] = du(self._dir_of(tab, v))[1]
                return v
            return write

        for spec in self.registry.ALL_SPECS.values():
            mod = core if hasattr(core, spec.builder) else marts
            setattr(mod, spec.builder, wrap_builder(getattr(mod, spec.builder), spec.table))
        for cls in (VersionedParquetTable, BucketedVersionedTable):
            cls.write = wrap_write(cls.write)

    def _dir_of(self, tab, v: int) -> str:
        if hasattr(tab, "database"):
            return os.path.join(self.warehouse_dir(), f"{tab.database}.db", f"{tab.name}_v{v}")
        return os.path.join(tab.path, f"v={v}")
