"""Operator → driver-table query surface (the correctness gate).

Each entry maps one operator family from SURVEY.md §2 onto the driver's
TPC-H-ish tables, with a DuckDB-equivalent oracle SQL string.  Naming
and typing rules (driver compares row-count + schema + value-hash):

- every computed column aliased identically on both sides;
- monetary aggregates computed in DECIMAL (exact, order-insensitive)
  then rounded and cast to DOUBLE so both engines emit bit-identical
  doubles regardless of summation order;
- deterministic total orders everywhere a rank/argmax breaks ties.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import hash_key
from ..operators.argmax import arg_max
from ..operators.materialize import materialize
from ..operators.rank import global_row_number
from ..operators.scd2 import insert_only_merge, scd2_apply
from ..operators.snapshots import filter_latest, filter_top_snapshots

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet reader, robust to how the driver generated ``ts``:

    - TIMESTAMP(MICROS) (current testdata): arrives as TIMESTAMP_NTZ —
      cast to the session TimestampType so downstream ``F.window`` /
      as-of arithmetic behave uniformly (values are wall-clock identical;
      the session runs in UTC).
    - TIMESTAMP(NANOS) (older testdata): Spark's vectorized reader
      rejects it; read nanos as long and truncate to micros (what
      DuckDB's ns→us conversion does), restoring a timestamp.
    """
    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = e.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e.withColumn("ts", F.col("ts").cast("timestamp"))


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(col):
    """Exact money arithmetic: decimal in, decimal out."""
    return F.col(col).cast("decimal(18,4)")


def _units4(col):
    """Rule #6-proof money-sum input: the column as an exact INTEGER
    count of 1e-4 units.  Summing these as int64 and converting ONCE
    ((double)sum / 1e4) is bit-identical cross-engine at ANY magnitude,
    whereas summing decimal(18,4) and casting the sum to double
    double-rounds in Spark as soon as the unscaled sum exceeds 2^53
    (NOTES rule #6 — ewma_control_daily failed exactly this way at
    sf0.1).  DuckDB twin: CAST(CAST(x AS DECIMAL(18,4)) * 10000 AS
    BIGINT).  int64 headroom: 9.2e18 vs 2^53 = 9.0e15 — 1000x.
    """
    return (F.col(col).cast("decimal(18,4)") * F.lit(10000)).cast("long")
