"""End-to-end pipeline test: fixture raw tables → full ELT → mart checks
(FIXTURES.md §5), including a second batch to exercise historization."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark import registry
from imdb_metacritic_data_warehouse_spark.operators.repair import repair_role_rotation
from imdb_metacritic_data_warehouse_spark.plans.pipeline import Warehouse
from imdb_metacritic_data_warehouse_spark.session import generated_class_compiles
from imdb_metacritic_data_warehouse_spark.sources.table import VersionedParquetTable
from tests.fixtures import (
    MOVIE_IMDB_ROWS,
    MOVIE_META_ROWS,
    ACTOR_IMDB_ROWS,
    ACTOR_META_ROWS,
    movie_row,
    spark_jobs,
    write_raw_fixtures,
)

T0, T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dwh")
    bronze = str(root / "bronze")
    write_raw_fixtures(spark, bronze)
    w = Warehouse(spark, bronze, str(root / "warehouse"))
    w.run_pipeline(T0)
    return w


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_repair_rotation(spark):
    df = spark.createDataFrame(ACTOR_IMDB_ROWS,
                               "movie_name string, movie_duration int, name string, raw_role string, role string")
    out = repair_role_rotation(df)
    rows = {(r.name, r.raw_role, r.role) for r in out.collect()}
    assert ("Val Kilmer", "(as Chris)", "actor") in rows
    assert ("(as Chris)", "actor", "Val Kilmer") not in rows
    assert (None, "NaN", "producer") in rows  # NULL role rows survive


def test_movie_hub(wh):
    hub = {r.movie_nm: r for r in wh.read("stg", "movie_hub").collect()}
    # 5 distinct valid (name, duration) pairs; null-key rows dropped
    assert set(hub) == {"The Matrix", "Heat", "Dogville", "Amelie", "Solo"}
    assert hub["The Matrix"].movie_id == md5("The Matrix136")


def test_genre_hub(wh):
    genres = {r.genre_nm for r in wh.read("stg", "genre_hub").collect()}
    assert genres == {"Action", "Sci-Fi", "Crime", "Drama", "Comedy", "Romance"}


def test_movie_info_sat_and_movie_data(wh):
    sat = wh.read("stg", "movie_info_sat")
    # one row per (movie, url): Matrix has 2 sources
    matrix = sat.filter(F.col("movie_id") == md5("The Matrix136")).collect()
    assert len(matrix) == 2 and {r.scr_nm for r in matrix} == {"IMDB", "METACRITIC"}

    md = wh.read("data_mart", "movie_data")
    rows = md.filter(F.col("movie_name") == "The Matrix").collect()
    assert {r.rating for r in rows} == {"8.7", "8.8"}
    # coalesce('') behavior
    heat = md.filter(F.col("movie_name") == "Heat").collect()[0]
    assert heat.original_name == "" and heat.worldwide_gross == ""


def test_employee_data_mart(wh):
    ed = {r.name: r for r in wh.read("data_mart", "employee_data").collect()}
    assert ed["Al Pacino"].role_description == ""  # 'NaN' → ''
    assert ed["Michael Mann"].role_description == "written by"  # parens stripped
    assert ed["Val Kilmer"].role == "actor"  # repaired rotation flows through


def test_genre_metrics(wh):
    gm = {r.genre: r for r in wh.read("data_mart", "genre_metrics").collect()}
    assert gm["Action"].genre_movie_quant == 2  # Matrix + Heat
    # Matrix budget 63M > Heat 60M
    assert gm["Action"].max_budget_movie == "The Matrix, 136 min"
    # rating avg over both sources' rows
    assert abs(gm["Sci-Fi"].average_rating - 8.75) < 1e-9


def test_second_batch_historization(wh, spark):
    # rating change for Matrix IMDB row → sat row closed + reopened
    changed = [
        movie_row("http://im/t1", "The Matrix", "136", original="The Matrix",
                  year="1999", cert="R", rating="9.0",
                  genres="['Action', 'Sci-Fi']", budget="63000000", gross="467222728"),
    ] + MOVIE_IMDB_ROWS[1:]
    write_raw_fixtures(spark, wh.bronze_root, movie_imdb=changed)
    wh.run_pipeline(T1)

    sat = wh.read("stg", "movie_info_sat")
    matrix_imdb = sat.filter(
        (F.col("movie_id") == md5("The Matrix136")) & (F.col("scr_nm") == "IMDB")
    ).collect()
    assert len(matrix_imdb) == 2
    open_rows = [r for r in matrix_imdb if str(r.valid_to).startswith("9999")]
    assert len(open_rows) == 1 and open_rows[0].rating == "9.0"

    # movie_data mart is insert-only keyed on title_item_id: original row stays
    md = wh.read("data_mart", "movie_data")
    matrix_rows = md.filter(F.col("movie_name") == "The Matrix").collect()
    assert len(matrix_rows) == 2  # imdb + metacritic title_item_ids, not duplicated

    # rating_slide now sees two snapshots; movies only in earlier snapshot
    # appear with NULL name (reference's full-join quirk) — here all movies
    # persist, so every row has a place
    rs = wh.read("data_mart", "rating_slide").collect()
    assert len(rs) > 0
    places = sorted(r.current_place for r in rs if r.current_place is not None)
    assert places == list(range(1, len(places) + 1))


def test_sql_view_surface(wh):
    """The spark.sql surface reference users query (their mart SQL
    translated table-name-for-table-name)."""
    views = wh.register_views()
    assert "data_mart_movie_data" in views and "stg_movie_hub" in views
    rows = wh.spark.sql(
        """
        SELECT movie_name, COUNT(*) AS n_sources
        FROM data_mart_movie_data
        GROUP BY movie_name
        ORDER BY n_sources DESC, movie_name
        """
    ).collect()
    assert rows[0].movie_name == "The Matrix" and rows[0].n_sources == 2


def test_registry_tables_are_versioned_parquet(wh):
    """Every registered table is plain versioned parquet under the
    warehouse root: its pointer, schema and data live on disk, and the
    warehouse keeps nothing in the session catalog."""
    import os

    for schema, name in registry.ALL_SPECS:
        tab = wh.table(schema, name)
        assert isinstance(tab, VersionedParquetTable)
        assert tab.path == os.path.join(wh.root, schema, name)
        assert os.path.isfile(
            os.path.join(tab.path, f"v={tab.current_version()}", "_schema.json")
        )
    assert not wh.spark.catalog.databaseExists(wh.catalog_database())


def test_register_views_submits_no_spark_job(wh):
    """Opening every committed version is file listing plus the
    committed schema: no schema-inference job per table."""
    with spark_jobs(wh.spark) as jobs:
        views = wh.register_views()
        assert not jobs()
        assert len(views) == len(registry.ALL_SPECS)
        wh.spark.table(views[0]).count()
        assert jobs()  # the probe sees this thread's jobs at all


def _two_sessions(root: str) -> None:
    """Batch 0 and batch 1 over one warehouse root, each in its own
    Spark session (the first is stopped before the second is built).
    Batch 1 changes one row of every SCD2 table: Matrix's IMDB rating
    (movie_info_sat), Heat loses Drama (movie_genre_link) and Michael
    Mann leaves Heat (movie_emp_link, emp_movie_l_sat).  Prints one
    JSON line: per SCD2 table, batch-0 rows and the batch-1 history
    counts."""
    import json
    import os

    from imdb_metacritic_data_warehouse_spark.session import get_spark

    def session():
        conf = {"spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse")}
        return get_spark("scd2_restart", cpus=2, extra_conf=conf)

    bronze, wh_root = os.path.join(root, "bronze"), os.path.join(root, "wh")
    scd2 = [s.table for s in registry.STG_SPECS if s.scd2]
    spark = session()
    write_raw_fixtures(spark, bronze)
    w = Warehouse(spark, bronze, wh_root)
    w.run_pipeline(T0)
    batch0 = {t: w.read("stg", t).count() for t in scd2}
    spark.stop()

    spark = session()
    movies = [
        movie_row("http://im/t1", "The Matrix", "136", original="The Matrix",
                  year="1999", cert="R", rating="9.0",
                  genres="['Action', 'Sci-Fi']", budget="63000000", gross="467222728"),
        movie_row("http://im/t2", "Heat", "170", year="1995", cert="R", rating="8.3",
                  genres="['Action', 'Crime']", budget="60000000", gross=""),
    ] + MOVIE_IMDB_ROWS[2:]
    actors = [r for r in ACTOR_IMDB_ROWS if r[2] != "Michael Mann"]
    write_raw_fixtures(spark, bronze, movie_imdb=movies, actor_imdb=actors)
    w = Warehouse(spark, bronze, wh_root)
    w.run_pipeline(T1)
    out = {}
    for t in scd2:
        h = w.read("stg", t)
        vf, vt = F.col("valid_from").cast("string"), F.col("valid_to").cast("string")
        out[t] = {
            "batch0": batch0[t],
            "from_t0": h.filter(vf == T0).count(),
            "open_from_t0": h.filter((vf == T0) & vt.startswith("9999")).count(),
            "closed_at_t1": h.filter(vt == T1).count(),
        }
    spark.stop()
    print(json.dumps(out))


def test_scd2_history_survives_session_restart(tmp_path):
    """A new process over an existing warehouse must merge into the
    committed history, not re-load it: every SCD2 table keeps its
    batch-0 rows (valid_from = T0) and closes exactly the changed ones.
    Runs in a child interpreter because it stops its Spark session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c",
         f"from tests.test_pipeline import _two_sessions; _two_sessions({str(tmp_path)!r})"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(got) == {s.table for s in registry.STG_SPECS if s.scd2}
    for table, c in got.items():
        assert c["from_t0"] == c["batch0"], (table, c)
        assert c["closed_at_t1"] == c["batch0"] - c["open_from_t0"] >= 1, (table, c)


def test_table_time_travel_and_compaction(spark, tmp_path):
    import os

    tab = VersionedParquetTable(spark, str(tmp_path), "tt")
    tab.write(spark.createDataFrame([(1,)], "id long"))
    tab.write(spark.createDataFrame([(2,)], "id long"))
    assert [r.id for r in tab.read().collect()] == [2]
    assert [r.id for r in tab.read(version=1).collect()] == [1]  # time travel
    v = tab.compact()
    assert v == 3 and [r.id for r in tab.read().collect()] == [2]
    files = [
        f
        for f in os.listdir(os.path.join(tab.path, "v=3"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1  # compacted to one file
    # v=1 is now outside the retention window
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tab.read(version=1)


def test_two_batch_reparse_history(spark, tmp_path):
    """The reference's core behavioral contract (readme.txt:5): a
    re-parse with changed ratings closes the old sat versions, opens new
    ones, and rating_slide compares the two snapshots."""
    from tests.fixtures import MOVIE_IMDB_ROWS, write_raw_fixtures

    bronze = str(tmp_path / "bronze")
    write_raw_fixtures(spark, bronze)
    w = Warehouse(spark, bronze, str(tmp_path / "wh"))
    w.run_pipeline(T0)

    # re-parse: The Matrix's IMDB rating moves 8.7 → 9.0
    updated = [
        (url, name, orig, year, cert, "9.0" if name == "The Matrix" else rating,
         genres, budget, gross, duration)
        for (url, name, orig, year, cert, rating, genres, budget, gross, duration)
        in MOVIE_IMDB_ROWS
    ]
    write_raw_fixtures(spark, bronze, movie_imdb=updated)
    w.run_pipeline(T1)

    sat = w.read("stg", "movie_info_sat")
    matrix_imdb = sorted(
        sat.filter(
            (F.col("movie_id") == md5("The Matrix136")) & (F.col("scr_nm") == "IMDB")
        ).collect(),
        key=lambda r: str(r.valid_from),
    )
    assert [r.rating for r in matrix_imdb] == ["8.7", "9.0"]
    assert str(matrix_imdb[0].valid_to).startswith("2024-02")  # closed at T1
    assert str(matrix_imdb[1].valid_to).startswith("9999")  # open
    # unchanged movie keeps ONE open version from T0
    heat = sat.filter(F.col("movie_id") == md5("Heat170")).collect()
    assert len(heat) == 1 and str(heat[0].valid_from).startswith("2024-01")

    # Mart semantics faithfully follow the reference: data_mart tables
    # take the INSERT-ONLY path (ddl.py:526,551-556), so the committed
    # rating_slide still holds the T0 rows for existing movie_ids —
    # including the NaN-rating quirk (Spark, like PG float ordering,
    # sorts NaN above every number, so Solo ranks 1 at T0).
    rs = {r.movie_id: r for r in w.read("data_mart", "rating_slide").collect()}
    m0 = rs[md5("The Matrix136")]
    assert m0.current_place == 3 and abs(m0.current_rating - 8.75) < 1e-9
    # the BUILDER's fresh output sees the T1 snapshot: only the changed
    # sat row carries valid_from=T1, so Matrix's "current" rating is the
    # updated IMDB 9.0 alone and every unchanged movie gets NULL attrs
    from imdb_metacritic_data_warehouse_spark.plans.marts import build_rating_slide

    fresh = {r.movie_id: r for r in build_rating_slide(w).collect()}
    m1 = fresh[md5("The Matrix136")]
    assert m1.current_place == 1 and abs(m1.current_rating - 9.0) < 1e-9
    assert fresh[md5("Heat170")].current_place is None


def test_repeat_merge_sweep_reuses_generated_classes(spark, tmp_path):
    """A repeated ELT sweep re-plans the same table shapes, so the JVM's
    code cache must hold its generated classes: the third batch compiled
    24 on a 4-vCPU host.  Spark's default 100-entry cache is smaller than
    one sweep's working set and recompiled 299."""
    bronze = str(tmp_path / "bronze")
    write_raw_fixtures(spark, bronze)
    w = Warehouse(spark, bronze, str(tmp_path / "wh"))
    w.run_pipeline(T0)
    w.run_pipeline(T1)
    before = generated_class_compiles(spark)
    w.run_pipeline("2024-03-01 00:00:00")
    assert generated_class_compiles(spark) - before <= 100
