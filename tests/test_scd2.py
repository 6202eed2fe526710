"""SCD2 scenario tests (FIXTURES.md §3): unchanged / changed / vanished /
re-appearing / new keys across three batches, plus invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.scd2 import (
    OPEN_SENTINEL,
    insert_only_merge,
    scd2_apply,
)

T0, T1, T2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"


def snap(spark, rows):
    return spark.createDataFrame(rows, "pk string, attr string")


def run_batches(spark, batches):
    state = None
    for ts, rows in batches:
        state = scd2_apply(state, snap(spark, rows), "pk", ["attr"], ts)
        # materialize like the pipeline does (merge reads its own output)
        state = spark.createDataFrame(state.collect(), state.schema)
    return state


def test_scd2_lifecycle(spark):
    batches = [
        (T0, [("a", "x"), ("b", "y"), ("c", "z")]),
        (T1, [("a", "x"), ("b", "y2")]),          # a unchanged, b changed, c vanished
        (T2, [("a", "x"), ("b", "y2"), ("c", "z3"), ("d", "w")]),  # c re-appears, d new
    ]
    out = run_batches(spark, batches).collect()
    by_pk = {}
    for r in out:
        by_pk.setdefault(r.pk, []).append(r)

    # a: one open row, original valid_from
    assert len(by_pk["a"]) == 1
    a = by_pk["a"][0]
    assert str(a.valid_from).startswith("2024-01-01") and str(a.valid_to).startswith("9999")

    # b: closed@T1 + open with attr y2
    bs = sorted(by_pk["b"], key=lambda r: str(r.valid_from))
    assert len(bs) == 2
    assert str(bs[0].valid_to).startswith("2024-02-01") and bs[0].attr == "y"
    assert str(bs[1].valid_to).startswith("9999") and bs[1].attr == "y2"

    # c: closed@T1, re-opened@T2
    cs = sorted(by_pk["c"], key=lambda r: str(r.valid_from))
    assert len(cs) == 2
    assert str(cs[0].valid_to).startswith("2024-02-01")
    assert str(cs[1].valid_from).startswith("2024-03-01") and str(cs[1].valid_to).startswith("9999")

    # d: new in batch 3
    assert len(by_pk["d"]) == 1 and str(by_pk["d"][0].valid_from).startswith("2024-03-01")


def test_scd2_null_transitions_are_changes(spark):
    # deliberate divergence from the reference's null-naive != (SURVEY §2.9)
    batches = [
        (T0, [("a", None), ("b", "v")]),
        (T1, [("a", "v"), ("b", None)]),
    ]
    out = run_batches(spark, batches).collect()
    opens = [r for r in out if str(r.valid_to).startswith("9999")]
    closed = [r for r in out if not str(r.valid_to).startswith("9999")]
    assert len(opens) == 2 and len(closed) == 2


def test_scd2_invariants(spark):
    batches = [
        (T0, [("a", "1"), ("b", "1")]),
        (T1, [("a", "2"), ("b", "1"), ("c", "1")]),
        (T2, [("a", "3"), ("c", "2")]),
    ]
    df = run_batches(spark, batches)
    # ≤1 open row per pk
    open_counts = (
        df.filter(F.col("valid_to") == F.lit(OPEN_SENTINEL).cast("timestamp"))
        .groupBy("pk")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in open_counts)
    # non-overlapping intervals per pk: sorted valid_from[i+1] >= valid_to[i]
    rows = sorted(df.collect(), key=lambda r: (r.pk, str(r.valid_from)))
    for prev, cur in zip(rows, rows[1:]):
        if prev.pk == cur.pk:
            assert cur.valid_from >= prev.valid_to


def test_scd2_null_pk_rows_match_by_content(spark):
    """A NULL pk names no row, and a snapshot may hold several: each
    NULL-pk row matches only an identical open row, so an unchanged one
    stays open, a vanished one closes, a new one opens, and reloading
    the same snapshot keeps one open row per NULL-pk row."""
    batches = [
        (T0, [("k1", "x"), (None, "y"), (None, "w")]),
        (T1, [("k1", "x"), (None, "z"), (None, "w")]),
        (T2, [("k1", "x"), (None, "z"), (None, "w")]),
    ]
    state = None
    for ts, rows in batches:
        state = scd2_apply(state, snap(spark, rows), "pk", ["attr"], ts)
        state = spark.createDataFrame(state.collect(), state.schema)
        open_null = [r for r in state.collect()
                     if r.pk is None and str(r.valid_to).startswith("9999")]
        assert len(open_null) == 2
    out = state.collect()
    got = {(r.pk, r.attr, str(r.valid_from)[:10], str(r.valid_to)[:10]) for r in out}
    assert got == {
        (None, "y", "2024-01-01", "2024-02-01"),
        (None, "w", "2024-01-01", "9999-12-31"),
        (None, "z", "2024-02-01", "9999-12-31"),
        ("k1", "x", "2024-01-01", "9999-12-31"),
    }
    assert len(out) == 4


def test_insert_only_merge_appends_new_keys_once(spark):
    b1 = spark.createDataFrame([("k1", "a"), (None, "nullrow")], "pk string, v string")
    b2 = spark.createDataFrame([("k1", "CHANGED"), ("k2", "b"), (None, "nullrow2")],
                               "pk string, v string")
    s1 = insert_only_merge(None, b1, "pk", ["pk", "v"])
    s2 = insert_only_merge(s1, b2, "pk", ["pk", "v"])
    rows = {(r.pk, r.v) for r in s2.collect()}
    # k1 keeps its ORIGINAL value (insert-only, no update); null pk inserted once
    assert rows == {("k1", "a"), ("k2", "b"), (None, "nullrow")}


def test_pit_join_reads_history_as_of(spark):
    from imdb_metacritic_data_warehouse_spark.operators.scd2 import scd2_apply
    from imdb_metacritic_data_warehouse_spark.operators.snapshots import pit_join
    from pyspark.sql import functions as F

    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "pk int, v string")
    b2 = spark.createDataFrame([(1, "a2"), (3, "c")], "pk int, v string")
    s1 = scd2_apply(None, b1, "pk", ["v"], "2024-01-01 00:00:00")
    hist = scd2_apply(s1, b2, "pk", ["v"], "2024-02-01 00:00:00")
    probes = spark.createDataFrame(
        [(pk, ts) for pk in (1, 2, 3) for ts in ("2024-01-15", "2024-02-15")],
        "pk int, ts string",
    ).select("pk", F.col("ts").cast("timestamp").alias("ts"))
    got = {
        (r.pk, str(r.ts.date())): r.v
        for r in pit_join(probes, hist, "pk", "ts").collect()
    }
    assert got == {
        (1, "2024-01-15"): "a",    # pre-change version
        (1, "2024-02-15"): "a2",   # post-change version
        (2, "2024-01-15"): "b",    # vanished key: only visible before close-out
        (3, "2024-02-15"): "c",    # inserted at batch 2: invisible before
    }
    # left variant keeps probe rows with no covering version
    left = pit_join(probes, hist, "pk", "ts", how="left")
    assert left.count() == 6
    # probe exactly AT a close-out boundary sees the successor (half-open)
    boundary = spark.createDataFrame([(1,)], "pk int").select(
        "pk", F.lit("2024-02-01 00:00:00").cast("timestamp").alias("ts")
    )
    assert pit_join(boundary, hist, "pk", "ts").collect()[0].v == "a2"
