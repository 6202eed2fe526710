"""Nullable-key policy for BOTH sketch families (verdict r6 task #4,
ADVICE r6).

The bug class: Spark ``concat_ws(':', seed, NULL)`` SKIPS the NULL and
hashes ``"<seed>:"`` into a REAL bucket, while the DuckDB twin
``seed || ':' || key`` propagates NULL — so a nullable key column
silently perturbs real counters on one engine only.  The fix (HLL in
r6, CMS this round) is NULL-propagating ``F.concat`` plus an explicit
policy: NULL keys are DROPPED on build (matching the oracle templates'
``WHERE key IS NOT NULL``) and estimate 0 on probe.

These tests run BOTH families over a key column that CONTAINS NULLs
and compare bit-for-bit against DuckDB oracles using the documented
templates — plus the invariant that NULLs leave every real counter
untouched (the exact divergence the old concat_ws code had).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.sketch import (
    cms_estimate,
    count_min_sketch,
    hll_register_maxes,
)

KEYS = ["a", "b", "a", None, "c", None, "b", "a", "dd", None, "c"]


def _spark_df(spark):
    return spark.createDataFrame([(k,) for k in KEYS], "k string")


def test_cms_nullable_key_matches_oracle_and_ignores_nulls(spark):
    df = _spark_df(spark)
    got = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in count_min_sketch(df, F.col("k"), depth=2, width=8).collect()
    }
    # NULL keys must never materialize a cell (old concat_ws bug: they
    # all landed in the md5("<seed>:") bucket).
    assert None not in {b for (_, b) in got}

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"k": KEYS}))
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """
            WITH cells AS (
              SELECT s.seed,
                     CAST(CAST(CONCAT('0x', substr(md5(CAST(s.seed AS VARCHAR) || ':' || k), 1, 15)) AS BIGINT) % 8 AS INT) AS bucket
              FROM t, (VALUES (0), (1)) s(seed)
              WHERE k IS NOT NULL
            )
            SELECT seed, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want

    # And the sketch over NULL-bearing data == the sketch over the
    # pre-filtered data: NULLs are invisible, not rerouted.
    clean = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in count_min_sketch(
            df.filter(F.col("k").isNotNull()), F.col("k"), depth=2, width=8
        ).collect()
    }
    assert got == clean


def test_cms_null_probe_estimates_zero(spark):
    df = _spark_df(spark)
    sk = count_min_sketch(df, F.col("k"), depth=2, width=8)
    keys = spark.createDataFrame([("a",), (None,)], "k string")
    est = {r["k"]: r["est"] for r in cms_estimate(sk, keys, "k", depth=2, width=8).collect()}
    assert est[None] == 0
    assert est["a"] >= 3  # never undercounts the real key


def test_hll_nullable_key_matches_oracle(spark):
    df = _spark_df(spark).select(F.lit("g").alias("grp"), "k")
    got = {
        (r["grp"], r["bucket"]): r["mj"]
        for r in hll_register_maxes(df, ["grp"], "k").collect()
    }
    assert None not in {b for (_, b) in got}

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"k": KEYS}))
    want = {
        ("g", r[0]): r[1]
        for r in con.execute(
            """
            WITH h AS (
              SELECT CAST(CONCAT('0x', substr(md5('4242:' || k), 1, 15)) AS BIGINT) AS u
              FROM t WHERE k IS NOT NULL
            )
            SELECT u // 4503599627370496 AS bucket,
                   MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                            ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
            FROM h GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want
