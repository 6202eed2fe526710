"""As-of / range join unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.asof import (
    asof_join,
    range_join_bucketed,
)


def _ts(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    for c, t in df.dtypes:
        if c.endswith("ts"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def test_asof_join_semantics(spark):
    left = _ts(
        spark,
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00"), (3, 2, "2024-01-01 09:00:00")],
        "event_id long, user_id long, ts string",
    )
    right = _ts(
        spark,
        [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 11:00:00", 20.0), (1, "2024-01-01 12:00:00", 30.0)],
        "user_id long, ts string, value double",
    )
    out = {r.event_id: r.value_asof for r in asof_join(left, right, "user_id").collect()}
    assert out[1] == 10.0   # latest at/before 10:00
    assert out[2] == 30.0   # exact tie at 12:00 is visible (<= semantics)
    assert out[3] is None   # user 2 has no purchases


def test_range_join_bucketed(spark):
    left = _ts(
        spark,
        [(1, 1, "2024-01-01 10:00:00")],
        "click_id long, user_id long, click_ts string",
    )
    right = _ts(
        spark,
        [
            (10, 1, "2024-01-01 09:30:00"),  # in range (30 min back)
            (11, 1, "2024-01-01 08:59:00"),  # out (61 min back)
            (12, 1, "2024-01-01 10:01:00"),  # out (future)
        ],
        "purchase_id long, user_id long, purchase_ts string",
    )
    out = range_join_bucketed(
        left, right, "user_id", "click_ts", "purchase_ts", range_seconds=3600
    ).collect()
    assert [r.purchase_id for r in out] == [10]


def test_asof_join_right_tiebreak_is_deterministic(spark):
    """Duplicate right timestamps per key: with right_tiebreak the
    carried payload is the row with the HIGHEST tiebreak value, on
    every run — not whichever the shuffle happened to order last."""
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 5, "p0")], "user_id int, ts int, event string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100, "a"), (1, 5, 300, "c"), (1, 5, 200, "b"), (1, 9, 50, "z")],
        "user_id int, ts int, event_id int, v string",
    )
    for _ in range(3):
        out = {
            r.event: r.v_asof
            for r in asof_join(
                left,
                right.repartition(8),
                key="user_id",
                right_payload=["v"],
                right_tiebreak="event_id",
            ).collect()
        }
        # at ts=5 three right rows tie — event_id 300 ('c') must win;
        # at ts=10 the latest right row is ts=9 ('z')
        assert out == {"p0": "c", "p1": "z"}


def test_attribution_last_touch_with_planted_duplicate_ts_clicks(spark, tmp_path):
    """Round-4 verdict task #3's done-gate: the attribution query must
    be green against its DuckDB oracle on data that PLANTS duplicate
    (user_id, ts) clicks — the case where engines' native ASOF tie
    resolution diverges unless ties are deduped before the join.  Both
    sides dedup to the max-event_id click per (user_id, ts), so the
    planted ties (event_ids 11/12/13 at the same microsecond, distinct
    props.k → distinct channels) must resolve to k=5 (event_id 13,
    'email'), on every run and any partitioning."""
    import datetime as dt

    import duckdb

    from imdb_metacritic_data_warehouse_spark.entry_queries import ORACLES, QUERIES

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # three clicks at the SAME instant for user 1 — k%3 = search/social/email
        (11, t0, 1, "click", 1.0, '{"k": 3}'),
        (12, t0, 1, "click", 1.0, '{"k": 4}'),
        (13, t0, 1, "click", 1.0, '{"k": 5}'),
        # a later purchase inside the 7-day lookback
        (20, t0 + dt.timedelta(hours=2), 1, "purchase", 9.0, '{"k": 0}'),
        # a purchase at EXACTLY the click ts (<= semantics: attributed)
        (21, t0, 1, "purchase", 9.0, '{"k": 0}'),
        # user 2: click outside the 7-day lookback → unattributed
        (30, t0 - dt.timedelta(days=8), 2, "click", 1.0, '{"k": 1}'),
        (31, t0, 2, "purchase", 9.0, '{"k": 0}'),
        # user 3: purchase with no click at all
        (40, t0, 3, "purchase", 9.0, '{"k": 0}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).repartition(8)
    sf = str(tmp_path / "planted")
    df.write.parquet(f"{sf}/events.parquet")

    got = {
        (r.event_id, r.channel, r.click_age_us)
        for r in QUERIES["attribution_last_touch"](spark, sf).collect()
    }
    assert got == {
        (20, "email", 2 * 3600 * 10**6),  # k=5 wins the tie, 2h age
        (21, "email", 0),                 # <= semantics at equal ts
        (31, "unattributed", None),
        (40, "unattributed", None),
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    spark_full = {
        (r.event_id, r.user_id, r.purchase_ts, r.channel, r.click_age_us)
        for r in QUERIES["attribution_last_touch"](spark, sf).collect()
    }
    oracle_full = {
        tuple(r) for r in con.execute(ORACLES["attribution_last_touch"]).fetchall()
    }
    assert spark_full == oracle_full


def test_asof_join_forward_direction(spark):
    left = _ts(
        spark,
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00"), (3, 2, "2024-01-01 09:00:00")],
        "event_id long, user_id long, ts string",
    )
    right = _ts(
        spark,
        [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 11:00:00", 20.0), (1, "2024-01-01 12:00:00", 30.0)],
        "user_id long, ts string, value double",
    )
    out = {
        r.event_id: r.value_asof
        for r in asof_join(left, right, "user_id", direction="forward").collect()
    }
    assert out[1] == 20.0   # earliest at/after 10:00
    assert out[2] == 30.0   # exact tie at 12:00 is visible (>= semantics)
    assert out[3] is None   # user 2 has no purchases


def test_asof_join_tolerance_nulls_distant_matches(spark):
    left = _ts(
        spark,
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00")],
        "event_id long, user_id long, ts string",
    )
    right = _ts(
        spark,
        [(1, "2024-01-01 09:30:00", 10.0)],
        "user_id long, ts string, value double",
    )
    out = {
        r.event_id: r.value_asof
        for r in asof_join(
            left, right, "user_id", tolerance_seconds=3600
        ).collect()
    }
    assert out[1] == 10.0   # 30 min back: inside tolerance
    assert out[2] is None   # 2.5 h back: row kept, match nulled

    fwd = {
        r.event_id: r.value_asof
        for r in asof_join(
            left, right, "user_id", direction="forward", tolerance_seconds=3600
        ).collect()
    }
    assert fwd[1] is None and fwd[2] is None  # nothing at/after either


def test_asof_join_forward_tiebreak(spark):
    left = _ts(spark, [(1, 1, "2024-01-01 10:00:00")], "event_id long, user_id long, ts string")
    right = _ts(
        spark,
        [(1, "2024-01-01 11:00:00", 5.0), (1, "2024-01-01 11:00:00", 7.0)],
        "user_id long, ts string, value double",
    )
    out = asof_join(
        left, right, "user_id", direction="forward", right_tiebreak="value"
    ).collect()
    assert out[0].value_asof == 7.0  # highest tiebreak among equal-ts rows
