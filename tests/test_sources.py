"""Connector and schema-evolution tests (S8/S9/S13, ddl.py:492-520)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.plans.pipeline import align_to_spec
from imdb_metacritic_data_warehouse_spark.registry import ALL_SPECS, TableSpec
from imdb_metacritic_data_warehouse_spark.sources.bronze import BRONZE_SCHEMAS
from imdb_metacritic_data_warehouse_spark.sources.connectors import (
    read_csv,
    read_jdbc,
    read_json,
    write_csv,
    write_json,
)
from imdb_metacritic_data_warehouse_spark.sources.table import VersionedParquetTable
from tests.fixtures import spark_jobs


def test_csv_roundtrip(spark, tmp_path):
    schema = BRONZE_SCHEMAS["actor_raw_data_imdb"]
    df = spark.createDataFrame(
        [("Heat", 170, "Al Pacino", "NaN", "actor")], schema
    )
    write_csv(df, str(tmp_path / "csv"))
    back = read_csv(spark, str(tmp_path / "csv"), schema)
    assert back.collect() == df.collect()


def test_json_roundtrip(spark, tmp_path):
    schema = BRONZE_SCHEMAS["movie_raw_data_imdb"]
    df = spark.createDataFrame(
        [("http://x", "Heat", None, "1995", "R", "8.3", "['Crime']", None, None, "170")],
        schema,
    )
    write_json(df, str(tmp_path / "json"))
    back = read_json(spark, str(tmp_path / "json"), schema)
    assert back.collect() == df.collect()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.sources.connectors import (
        read_orc,
        write_orc,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_orc(df, str(tmp_path / "orc"))
    back = read_orc(spark, str(tmp_path / "orc"))
    assert back.count() == 100
    filtered = back.filter(F.col("k") > 90).select("k")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # ORC scans get the same pushdown/pruning treatment as parquet
    assert "PushedFilters" in plan and "GreaterThan(k" in plan
    assert filtered.count() == 9


def test_jdbc_fails_cleanly_without_driver(spark):
    with pytest.raises(Exception):
        read_jdbc(spark, "jdbc:postgresql://localhost/x", "t").collect()


def test_align_to_spec_add_retype_drop(spark):
    spec = TableSpec(
        "stg", "movie_hub", "movie_id",
        [("movie_id", "string"), ("movie_nm", "string"), ("movie_duration", "int")],
        False, "build_movie_hub",
    )
    # drifted input: missing movie_duration, extra junk col, wrong type for id
    df = spark.createDataFrame(
        [(1, "Heat", "x")], "movie_id int, movie_nm string, junk string"
    )
    out = align_to_spec(df, spec)
    assert [f.name for f in out.schema.fields] == ["movie_id", "movie_nm", "movie_duration"]
    assert dict(out.dtypes) == {"movie_id": "string", "movie_nm": "string", "movie_duration": "int"}
    row = out.collect()[0]
    assert row.movie_id == "1" and row.movie_duration is None


def test_versioned_table_atomic_swap_and_gc(spark, tmp_path):
    tab = VersionedParquetTable(spark, str(tmp_path), "t")
    assert not tab.exists()
    for i in range(4):
        tab.write(spark.createDataFrame([(i,)], "v int"))
    assert tab.current_version() == 4
    assert tab.read().collect()[0].v == 3
    # gc keeps only the retain window
    import os
    dirs = sorted(d for d in os.listdir(tab.path) if d.startswith("v="))
    assert dirs == ["v=3", "v=4"]


def test_versioned_read_submits_no_spark_job(spark, tmp_path):
    """``read()`` opens a version with its committed schema, so it is
    file listing only; a version without the schema file (written
    before it existed) still reads, by inference."""
    import os

    tab = VersionedParquetTable(spark, str(tmp_path), "nojob")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n int")
    v = tab.write(df)
    with spark_jobs(spark) as jobs:
        back = tab.read()
        assert not jobs()
        assert back.schema.simpleString() == "struct<k:string,n:int>"
        assert sorted((r.k, r.n) for r in back.collect()) == [("a", 1), ("b", 2)]
        assert jobs()  # the probe sees this thread's jobs at all
    os.remove(os.path.join(tab.path, f"v={v}", "_schema.json"))
    assert sorted((r.k, r.n) for r in tab.read().collect()) == [("a", 1), ("b", 2)]


def test_empty_version_reads_back(spark, tmp_path):
    """A zero-row SCD2-shaped write leaves no parquet file to infer a
    schema from; the committed schema still opens it, and compaction
    runs through it."""
    tab = VersionedParquetTable(spark, str(tmp_path), "empty")
    df = spark.createDataFrame([], "k string, valid_from timestamp")
    tab.write(df)
    back = tab.read()
    assert back.schema.simpleString() == "struct<k:string,valid_from:timestamp>"
    assert back.count() == 0
    assert tab.compact() == 2
    assert tab.read().schema == back.schema and tab.read().count() == 0


def test_python_datasource_synthetic_events(spark):
    """Spark 4 Python DataSource API: deterministic generator source,
    partitioned executor-side (no driver materialization)."""
    from imdb_metacritic_data_warehouse_spark.sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 1000)
        .option("n_partitions", 4)
        .option("n_users", 10)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    assert df.select("event_id").distinct().count() == 1000
    # deterministic: a second read produces identical rows
    df2 = (
        spark.read.format("synthetic_events")
        .option("n_rows", 1000)
        .option("n_partitions", 4)
        .option("n_users", 10)
        .load()
    )
    assert df.exceptAll(df2).count() == 0
    users = df.select("user_id").distinct().count()
    assert users == 10


def test_export_jsonl_shards_deterministic_and_balanced(spark, tmp_path):
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.sources.connectors import (
        export_jsonl_shards,
    )

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    export_jsonl_shards(df, p1, 8, "doc_id", salt="v1")
    export_jsonl_shards(df, p2, 8, "doc_id", salt="v1")

    back = spark.read.json(p1)
    assert back.count() == 2000
    sizes = {r.shard: r.n for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) == 8
    assert max(sizes.values()) < 2 * min(sizes.values())  # salted md5 balance

    # deterministic: identical shard assignment across exports
    a = {(r.doc_id, r.shard) for r in back.collect()}
    b = {(r.doc_id, r.shard) for r in spark.read.json(p2).collect()}
    assert a == b


def test_version_diff_apply_reproduces_target(spark, tmp_path):
    """Applying the change feed to v1 must reproduce v2 exactly:
    (v1 − deleted − updated-old) ∪ (inserts + update-new rows) == v2."""
    from imdb_metacritic_data_warehouse_spark.sources.table import (
        VersionedParquetTable,
        version_diff,
    )

    t = VersionedParquetTable(spark, str(tmp_path), "cdf")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    v2 = spark.createDataFrame(
        [(2, "B"), (3, "c"), (4, "d")], "id long, val string"
    )
    t.write(v1)
    t.write(v2)
    feed = version_diff(t, "id")
    got = {(r.change_type, r.id, r.val) for r in feed.collect()}
    assert got == {("delete", 1, "a"), ("update", 2, "B"), ("insert", 4, "d")}
    # apply the feed to v1
    touched = feed.select("id")
    applied = (
        t.read(1).join(touched, "id", "left_anti")
        .unionByName(
            feed.filter(feed.change_type != "delete").select("id", "val")
        )
    )
    assert {(r.id, r.val) for r in applied.collect()} == {
        (r.id, r.val) for r in t.read(2).collect()
    }


def test_dq_report_counts_each_rule_class(spark):
    """Row rule (with a NULL counting as violation), pk duplicate rows,
    and row-weighted FK orphans all report exact counts and rates."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.dq import dq_report

    fact = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, 10, -1.0),   # range violation
            (2, 20, 3.0),    # duplicate pk (both id=2 rows count)
            (3, None, None), # NULL value -> rule NULL -> violation; null fk ignored
            (4, 99, 2.0),    # orphan fk
            (5, 99, 2.0),    # same orphan key, second row (row-weighted)
        ],
        "id long, dim_id long, val double",
    )
    dim = spark.createDataFrame([(10,), (20,)], "d long")
    got = {
        r.check: (r.n_violations, r.violation_rate)
        for r in dq_report(
            fact,
            row_rules={"val_positive": F.col("val") > 0},
            unique_key="id",
            fk_rules={"dim_fk": (dim, "dim_id", "d")},
        ).collect()
    }
    assert got["val_positive"] == (2, round(2 / 6, 6))
    assert got["unique:id"] == (2, round(2 / 6, 6))
    assert got["dim_fk"] == (2, round(2 / 6, 6))


def test_wap_publish_advances_on_clean_audit(spark, tmp_path):
    """The write-audit-publish gate must actually publish when the
    audit passes (the entry query only exercises the reject path)."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.sources.table import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(spark, str(tmp_path), "serving")
    clean = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("cents"))
    t.write(clean)
    assert t.current_version() == 1
    staged = spark.range(12).select(F.col("id"), (F.col("id") * 3).alias("cents"))
    stage_t = VersionedParquetTable(spark, str(tmp_path), "staging")
    stage_t.write(staged)
    back = stage_t.read()
    bad = back.filter(F.col("cents") < 0).count()
    if bad == 0:
        t.write(back)
    assert t.current_version() == 2
    assert t.read().count() == 12


def test_bitemporal_snapshot_boundary_semantics(spark):
    """Half-open [from, to) on BOTH axes: a record corrected at tx 2 is
    visible at tx 1 but not tx 2; valid_to day itself is excluded."""
    import datetime as dt

    from imdb_metacritic_data_warehouse_spark.operators.snapshots import (
        bitemporal_snapshot,
    )

    d = dt.date
    rows = [
        # key 1: believed from tx1, corrected (closed) at tx2
        (1, d(2024, 1, 1), d(2024, 2, 1), 100, 1, 2),
        (1, d(2024, 1, 1), d(2024, 2, 1), 150, 2, None),
        # key 2: valid window ends exactly on the probe date
        (2, d(2023, 12, 1), d(2024, 1, 15), 200, 1, None),
    ]
    df = spark.createDataFrame(
        rows,
        "k int, valid_from date, valid_to date, cents int, tx_from int, tx_to int",
    )
    at_tx1 = {
        (r.k, r.cents)
        for r in bitemporal_snapshot(df, tx_at=1, valid_at="2024-01-10").collect()
    }
    assert at_tx1 == {(1, 100), (2, 200)}
    at_tx2 = {
        (r.k, r.cents)
        for r in bitemporal_snapshot(df, tx_at=2, valid_at="2024-01-10").collect()
    }
    assert at_tx2 == {(1, 150), (2, 200)}
    # valid_to is EXCLUSIVE: probing key 2's end date drops it
    end_day = {
        r.k
        for r in bitemporal_snapshot(df, tx_at=2, valid_at="2024-01-15").collect()
    }
    assert end_day == {1}


def test_bitemporal_snapshot_null_valid_to_is_open_ended(spark):
    """NULL valid_to = open-ended validity (mirrors the NULL tx_to
    handling) — ADVICE r5: the old predicate silently dropped these
    rows because ``NULL > date`` filters."""
    import datetime as dt

    from imdb_metacritic_data_warehouse_spark.operators.snapshots import (
        bitemporal_snapshot,
    )

    d = dt.date
    rows = [
        (1, d(2024, 1, 1), None, 100, 1, None),  # open-ended validity
        (2, d(2024, 1, 1), d(2024, 2, 1), 200, 1, None),
    ]
    df = spark.createDataFrame(
        rows,
        "k int, valid_from date, valid_to date, cents int, tx_from int, tx_to int",
    )
    got = {
        r.k for r in bitemporal_snapshot(df, tx_at=1, valid_at="2030-06-01").collect()
    }
    assert got == {1}, "open-ended validity must survive any later probe date"
    both = {
        r.k for r in bitemporal_snapshot(df, tx_at=1, valid_at="2024-01-10").collect()
    }
    assert both == {1, 2}
