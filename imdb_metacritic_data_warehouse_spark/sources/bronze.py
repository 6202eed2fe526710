"""Bronze layer: the raw-table contract.

Mirrors the reference's ``public`` schema (``ddl.py:16-53``): four raw
tables, stringly-typed (numerics arrive as strings because the scrapers
stringify everything, ``imdb parser.py:244-247``).  Declared
``StructType``s — never inferred — matching the reference's
declared-schema philosophy (``meta.etl_col``, SURVEY.md §1.4).

Ingestion itself (HTML scraping, S1-S7) stays a driver-side adapter out
of engine scope; the engine's input contract is these schemas on
parquet.  The per-row INSERT sink (S8) and TRUNCATE-then-load (S10)
become ``mode('append')`` / ``mode('overwrite')`` batch writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _string_struct(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in cols])


_MOVIE_RAW_COLS = [
    "url",
    "movie_name",
    "original_name",
    "year",
    "certificate",
    "rating",
    "genres",
    "budget",
    "gross_worldwide",
    "min_duration",
]

# actor_raw mirrors ddl.py:16-22: movie_duration is int4 there; all else text.
_ACTOR_RAW_SCHEMA = T.StructType(
    [
        T.StructField("movie_name", T.StringType(), True),
        T.StructField("movie_duration", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("raw_role", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)

BRONZE_SCHEMAS: dict[str, T.StructType] = {
    "movie_raw_data_imdb": _string_struct(_MOVIE_RAW_COLS),
    "movie_raw_data_metacritic": _string_struct(_MOVIE_RAW_COLS),
    "actor_raw_data_imdb": _ACTOR_RAW_SCHEMA,
    "actor_raw_data_metacritic": _ACTOR_RAW_SCHEMA,
}


def read_bronze(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Scan a bronze table with its declared schema (S11).

    Passing the schema explicitly (instead of relying on parquet footer
    inference) keeps the contract stable under upstream drift and lets
    Catalyst prune columns at the scan.
    """
    schema = BRONZE_SCHEMAS[table]
    return spark.read.schema(schema).parquet(f"{root}/{table}.parquet")


def write_bronze(df: DataFrame, root: str, table: str) -> None:
    """Batch write (replaces the reference's per-row INSERT+commit,
    ``imdb parser.py:240-242``; ``overwrite`` = S10 truncate-then-load)."""
    df.write.mode("overwrite").parquet(f"{root}/{table}.parquet")
