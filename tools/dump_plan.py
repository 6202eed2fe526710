"""Dump ``explain('formatted')`` for named queries into plans/<tag>/.

Usage: python tools/dump_plan.py <outdir> <suffix> <query> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` with the FULL logical-to-
physical formatted plan.  Runs inside
``operators.materialize.plan_only()`` so every ``materialize`` call is
skipped and the complete operator tree is visible (an executed query would show ExistingRDD
scans at every checkpoint boundary, hiding the upstream plan the
audit is about) — each file's header says so.
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import imdb_metacritic_data_warehouse_spark.entry_queries as eq
    from imdb_metacritic_data_warehouse_spark.operators.materialize import plan_only
    from imdb_metacritic_data_warehouse_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("dump_plan", cpus=8)
    for name in names:
        with plan_only():
            df = eq.QUERIES[name](spark, sf)
            # capture the formatted explain (it prints to stdout)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# {name} — explain('formatted') at {sf}\n"
                "# Captured under operators.materialize.plan_only(): "
                "materialize() boundaries\n"
                "# are SKIPPED so the full operator tree is visible (the "
                "executed query\n"
                "# reads ExistingRDD at each materialization boundary "
                "instead).\n\n"
            )
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
