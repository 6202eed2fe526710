"""Deterministic raw-layer fixtures per FIXTURES.md §1–§3.

Small hand-built rows exercising every quirk the reference's data can
contain: duplicate movies across sources, NULL business keys, ``'NaN'``
string sentinels, empty-string budgets, stringified genre lists
(including ``"[]"`` and NULL), rotated actor rows, and year-like
certificates.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from imdb_metacritic_data_warehouse_spark.sources.bronze import BRONZE_SCHEMAS


def movie_row(url, name, duration, *, original=None, year=None, cert=None,
              rating=None, genres=None, budget=None, gross=None):
    return (url, name, original, year, cert, rating, genres, budget, gross, duration)


# columns: url, movie_name, original_name, year, certificate, rating,
#          genres, budget, gross_worldwide, min_duration
MOVIE_IMDB_ROWS = [
    movie_row("http://im/t1", "The Matrix", "136", original="The Matrix", year="1999",
              cert="R", rating="8.7", genres="['Action', 'Sci-Fi']",
              budget="63000000", gross="467222728"),
    movie_row("http://im/t2", "Heat", "170", year="1995", cert="R", rating="8.3",
              genres="['Action', 'Crime', 'Drama']", budget="60000000", gross=""),
    movie_row("http://im/t3", "Dogville", "178", year="2003", cert="1994",  # cert-vs-year bug
              rating="8.0", genres="['Drama']", budget=None, gross=None),
    movie_row("http://im/t4", "Nullmovie", None, rating="7.0", genres="[]"),  # null duration → null key
    movie_row("http://im/t5", None, "100", rating="6.0", genres=None),  # null name → null key
]

MOVIE_META_ROWS = [
    # same movie in both sources (same business key) but different url/rating
    movie_row("http://mc/t1", "The Matrix", "136", year="1999", rating="8.8",
              genres="['Action', 'Sci-Fi']", budget="63000000", gross="467222728"),
    movie_row("http://mc/t6", "Amelie", "122", year="2001", rating="8.9",
              genres="['Comedy', 'Romance']", budget="", gross="173921954"),
    movie_row("http://mc/t7", "Solo", "90", rating="NaN", genres="['Drama']"),
]

# columns: movie_name, movie_duration, name, raw_role, role
ACTOR_IMDB_ROWS = [
    ("The Matrix", 136, "Keanu Reeves", "Neo", "actor"),
    ("The Matrix", 136, "Lana Wachowski", "(directed by)", "director"),
    ("Heat", 170, "Al Pacino", "NaN", "actor"),
    ("Heat", 170, "Michael Mann", "(written by)", "writer"),
    # rotated row: true values are name="Val Kilmer", raw_role="(as Chris)",
    # role="actor"; corruption per etl_layer_transfer.py:10-20 shifts them to
    # (name←raw_role-slot … ) such that the repair's rotation restores them
    ("Heat", 170, "actor", "Val Kilmer", "(as Chris)"),
    ("Dogville", 178, "Nicole Kidman", "Grace", "actor"),
    ("Nullmovie", None, "Nobody Jones", "NaN", "actor"),
    ("Heat", 170, None, "NaN", "producer"),  # null name
]

ACTOR_META_ROWS = [
    ("The Matrix", 136, "Keanu Reeves", "Neo", "actor"),  # cross-source dup
    ("Amelie", 122, "Audrey Tautou", "Amélie", "actor"),
    ("Amelie", 122, "Jean-Pierre Jeunet", "(director)", "director"),
    ("Solo", 90, "Jane Doe", "Ensemble", "actor"),
]


def write_raw_fixtures(spark: SparkSession, root: str,
                       movie_imdb=None, movie_meta=None,
                       actor_imdb=None, actor_meta=None) -> None:
    data = {
        "movie_raw_data_imdb": movie_imdb if movie_imdb is not None else MOVIE_IMDB_ROWS,
        "movie_raw_data_metacritic": movie_meta if movie_meta is not None else MOVIE_META_ROWS,
        "actor_raw_data_imdb": actor_imdb if actor_imdb is not None else ACTOR_IMDB_ROWS,
        "actor_raw_data_metacritic": actor_meta if actor_meta is not None else ACTOR_META_ROWS,
    }
    for tab, rows in data.items():
        df = spark.createDataFrame(rows, BRONZE_SCHEMAS[tab])
        df.coalesce(1).write.mode("overwrite").parquet(f"{root}/{tab}.parquet")


@contextmanager
def spark_jobs(spark: SparkSession):
    """Yields a callable returning the ids of the Spark jobs this
    thread has submitted since entering (tracked under a fresh job
    group; the previous group is restored on exit)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield lambda: set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
