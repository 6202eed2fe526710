"""Z-order layout: predicates on the SECOND dimension must touch few
files, where a single-key layout is blind to it and touches all.

``input_file_name()`` over the filtered read gives the exact set of
files containing matching rows — a direct, deterministic measure of
the layout's locality (file- and row-group-level pruning both act on
the per-file min/max ranges the z-sort made tight)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.sources.zorder import z_value_scaled

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
N_FILES = 8


def _files_touched(spark, path, pred):
    df = spark.read.parquet(path).filter(pred)
    return df.select(F.input_file_name()).distinct().count()


def test_zvalue_interleaves_bits(spark):
    # identity scaling (lo=0, hi=2^4-1): 5=0101 at even bits, 3=0011 at odd
    row = (
        spark.range(1)
        .select(z_value_scaled("5", 0, 15, "3", 0, 15, bits=4).alias("z"))
        .collect()[0]
    )
    # bit0=a0=1, bit1=b0=1, bit2=a1=0, bit3=b1=1, bit4=a2=1, bit5..7=0
    assert row.z == 0b00011011


def test_second_dimension_predicate_touches_fewer_files(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zpath, kpath = str(tmp_path / "z"), str(tmp_path / "k")
    # z-clustered: range-partition on the Morton code of both keys, sort
    # within each file so its min/max stats stay tight
    lo_a, hi_a, lo_b, hi_b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).collect()[0]
    z = z_value_scaled("l_orderkey", lo_a, hi_a, "l_partkey", lo_b, hi_b)
    (
        li.withColumn("__z", z)
        .repartitionByRange(N_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(zpath)
    )
    # baseline: clustered on the FIRST key only — perfect for orderkey
    # predicates, blind to partkey
    (
        li.repartitionByRange(N_FILES, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(kpath)
    )

    max_part = li.agg(F.max("l_partkey")).collect()[0][0]
    # second-dimension-only predicate: bottom ~20% of the partkey range
    pred_b = F.col("l_partkey") <= max_part // 5
    z_touch = _files_touched(spark, zpath, pred_b)
    k_touch = _files_touched(spark, kpath, pred_b)
    assert k_touch == N_FILES  # single-key layout cannot confine dim 2
    assert z_touch < k_touch

    # first-dimension predicate: z-order must still confine it (the
    # price of 2-D locality is bounded, not catastrophic, on dim 1)
    max_ord = li.agg(F.max("l_orderkey")).collect()[0][0]
    pred_a = F.col("l_orderkey") <= max_ord // 5
    assert _files_touched(spark, zpath, pred_a) < N_FILES
