"""Unit tests for the product-analytics shapes (funnel, cohort) and
the compaction planner."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )


def test_funnel_requires_stage_order(spark):
    """A click BEFORE the first view must not count as a funnel click."""

    def at(m):
        return datetime(2024, 1, 1, 12, m, 0)

    rows = [
        # user 1: full ordered funnel
        (1, "view", at(0)), (1, "click", at(1)), (1, "purchase", at(2)),
        # user 2: click before any view -> stops at 'view'
        (2, "click", at(0)), (2, "view", at(1)),
        # user 3: view then purchase but never clicks -> stops at 'view'
        (3, "view", at(0)), (3, "purchase", at(1)),
    ]
    df = _events_df(spark, rows)
    # drive the same construction as the query, against the local frame
    v = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        df.filter(F.col("event_type") == "click")
        .join(v, "user_id").filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        df.filter(F.col("event_type") == "purchase")
        .join(c, "user_id").filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    assert v.count() == 3
    assert [r.user_id for r in c.collect()] == [1]
    assert [r.user_id for r in p.collect()] == [1]


def test_cohort_week_numbers_are_exact(spark):
    rows = [
        (1, "view", datetime(2024, 1, 1, 10, 0)),   # Monday, cohort week 0
        (1, "view", datetime(2024, 1, 10, 10, 0)),  # week 1
        (1, "view", datetime(2024, 1, 17, 10, 0)),  # week 2
        (2, "view", datetime(2024, 1, 9, 10, 0)),   # cohort = week of Jan 8
        (2, "view", datetime(2024, 1, 16, 10, 0)),  # its week 1
    ]
    df = _events_df(spark, rows)
    first_seen = df.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = df.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    out = (
        activity.join(first_seen, "user_id")
        .select(
            "user_id",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_no"),
        )
        .collect()
    )
    got = sorted((r.user_id, r.week_no) for r in out)
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1)]


def test_compaction_never_splits_and_bounds_overshoot(spark):
    from imdb_metacritic_data_warehouse_spark.operators.packing import plan_compaction

    rows = [(i, 30 + (i * 17) % 50) for i in range(200)]  # sizes 30..79
    files = spark.createDataFrame(rows, "file_id long, size_bytes long")
    target = 500
    plan = plan_compaction(files, "file_id", "size_bytes", target).collect()
    # every file appears exactly once (never split)
    assert sorted(r.file_id for r in plan) == list(range(200))
    by_bin: dict[int, int] = {}
    max_size = 0
    for r in plan:
        by_bin[r.bin_id] = by_bin.get(r.bin_id, 0) + r.size_bytes
        max_size = max(max_size, r.size_bytes)
    # each bin overshoots the target by at most one file
    assert all(total < target + max_size for total in by_bin.values())
    # bins are contiguous 0..n
    assert sorted(by_bin) == list(range(len(by_bin)))
    # all bins except possibly the last reach the target (files aren't
    # skipped): a bin ends only once the cumulative stream crosses it
    for b, total in list(by_bin.items())[:-1]:
        assert total + max_size >= target


def test_interval_overlap_join_exact_and_dedup(spark):
    """Chunk-exploded overlap join must equal the naive θ-join: every
    overlapping pair exactly once (owner-chunk filter kills the
    multi-chunk duplicates), boundary touch (end == start) included,
    disjoint intervals excluded — with intervals spanning many chunks."""
    from imdb_metacritic_data_warehouse_spark.operators.asof import (
        interval_overlap_join,
    )

    def ts(d, h=0):
        return datetime(2024, 1, d, h, 0, 0)

    left = spark.createDataFrame(
        [
            (1, "a", ts(1), ts(5)),      # spans 5 day-chunks
            (1, "b", ts(10), ts(10, 1)), # short
            (2, "c", ts(1), ts(2)),      # other key
        ],
        "k long, lid string, start_ts timestamp, end_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, "x", ts(3), ts(12)),     # overlaps a (days 3-5) AND b
            (1, "y", ts(5), ts(6)),      # touches a exactly at end (inclusive)
            (1, "z", ts(20), ts(21)),    # disjoint from both
            (2, "w", ts(2), ts(3)),      # overlaps c at the boundary
        ],
        "k long, rid string, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r.lid, r.rid_r)
        for r in interval_overlap_join(left, right, "k").collect()
    )
    assert got == [("a", "x"), ("a", "y"), ("b", "x"), ("c", "w")]


def test_markov_transition_probs_sum_to_one(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        markov_transitions_events,
    )

    out = markov_transitions_events(spark, sf_dir)
    by_src = out.groupBy("src").agg(F.round(F.sum("p"), 4).alias("tot")).collect()
    assert by_src, "no transitions at test SF"
    for r in by_src:
        # per-src probabilities sum to 1 (up to the 6-digit cell rounding)
        assert abs(r["tot"] - 1.0) < 1e-3, r


def test_twap_bounds_and_interval_counts(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _events
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        twap_events,
    )

    out = twap_events(spark, sf_dir)
    ev = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    j = out.join(ev, "user_id").collect()
    assert j, "no users at test SF"
    for r in j:
        # a weighted mean can never leave the value envelope
        assert r["lo"] - 1e-6 <= r["twap"] <= r["hi"] + 1e-6, r
        # every consecutive pair contributes exactly one interval
        assert r["n_intervals"] == r["n"] - 1, r


def test_twap_hand_example(spark):
    # value 10 held for 3s then value 0 held for 1s -> twap 7.5
    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (1, 2, datetime(2024, 1, 1, 0, 0, 3), 0.0),
        (1, 3, datetime(2024, 1, 1, 0, 0, 4), 99.0),  # last value carries no weight
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    got = (
        seq.groupBy("user_id")
        .agg((F.sum(F.col("value") * F.col("dt")) / F.sum("dt")).alias("twap"))
        .collect()[0]["twap"]
    )
    assert abs(got - 7.5) < 1e-9


def test_pagerank_hand_graph(spark):
    from imdb_metacritic_data_warehouse_spark.operators.graph import (
        pagerank,
        undirected_edges,
    )

    # path graph 1-2-3: ends symmetric, middle highest; mass conserved
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    pr = {r["node"]: r["pr"] for r in pagerank(undirected_edges(pairs, "a", "b")).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert abs(pr[1] - pr[3]) < 1e-12
    assert pr[2] > pr[1]

    # star graph: hub dominates every leaf
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "a long, b long")
    spr = {r["node"]: r["pr"] for r in pagerank(undirected_edges(star, "a", "b")).collect()}
    assert all(spr[0] > spr[i] for i in range(1, 6))
    assert abs(sum(spr.values()) - 1.0) < 1e-9


def test_scd2_validity_audit_clean_history(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        scd2_validity_audit,
    )

    r = scd2_validity_audit(spark, sf_dir).collect()[0]
    assert r["n_keys"] > 0 and r["n_rows"] >= r["n_keys"]
    assert r["n_open_violations"] == 0
    assert r["n_inverted"] == 0 and r["n_overlaps"] == 0 and r["n_gaps"] == 0


def test_table_checksum_detects_single_row_change(spark, tmp_path, sf_dir):
    import shutil

    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        table_checksum_orders,
    )

    base = {r["bucket"]: r for r in table_checksum_orders(spark, sf_dir).collect()}
    # corrupt exactly one row's status, keep everything else identical
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    victim = o.select(F.min("o_orderkey").alias("k")).collect()[0]["k"]
    mutated = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") == victim, F.lit("Z")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    mutated.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["bucket"]: r for r in table_checksum_orders(spark, str(tmp_path)).collect()
    }
    diff = [b for b in base if base[b]["xor_sum"] != got[b]["xor_sum"]]
    assert diff == [int(victim % 16)]
    assert all(base[b]["n"] == got[b]["n"] for b in base)


def test_winsorize_bounds_and_clip_rates(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        winsorize_lineitem_prices,
    )

    for r in winsorize_lineitem_prices(spark, sf_dir).collect():
        assert r["p05"] <= r["avg_winsorized"] <= r["p95"]
        # ~5% clipped each side (exact percentile cutoffs)
        assert abs(r["n_clipped_low"] / r["n"] - 0.05) < 0.02
        assert abs(r["n_clipped_high"] / r["n"] - 0.05) < 0.02


def test_attribution_window_and_channels(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        attribution_last_touch,
    )

    rows = attribution_last_touch(spark, sf_dir).collect()
    assert rows
    seven_days_us = 7 * 24 * 3600 * 1_000_000
    for r in rows:
        if r["channel"] == "unattributed":
            assert r["click_age_us"] is None
        else:
            assert r["channel"] in ("search", "social", "email")
            assert 0 <= r["click_age_us"] <= seven_days_us


def test_cumulative_uniques_monotone_and_total(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _events
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        cumulative_unique_users_daily,
    )

    rows = sorted(
        cumulative_unique_users_daily(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    cums = [r["cum_users"] for r in rows]
    assert cums == sorted(cums)
    total = _events(spark, sf_dir).select("user_id").distinct().count()
    assert cums[-1] == total
    assert sum(r["new_users"] for r in rows) == total


def test_inverted_index_postings_consistency(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        inverted_index_postings,
    )

    for r in inverted_index_postings(spark, sf_dir).collect():
        # postings serialize as a comma-joined string (numerically
        # sorted BEFORE the cast) — driver-gated outputs must be
        # scalar-only (lint R7, the r7 red-row class).
        p = [int(x) for x in r["postings"].split(",")]
        assert r["df"] == len(p)
        assert p == sorted(p) and len(set(p)) == len(p)


def test_survivorship_fusion_rules(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        survivorship_golden_docs,
    )

    out = {r["canonical_doc"]: r for r in survivorship_golden_docs(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_id = {r["doc_id"]: r for r in docs}
    checked = 0
    for doc_id in by_id:
        if doc_id % 7 == 0:
            r = out[doc_id]  # canonical = min id = the original
            # padded mirror is 1 char longer -> wins the longest rule
            assert r["longest_doc"] == doc_id + 2000000
            assert r["n_members"] == (3 if doc_id % 10 == 0 else 2)
            checked += 1
    assert checked > 0


def test_dau_wau_invariants(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        dau_wau_stickiness,
    )

    rows = dau_wau_stickiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["wau"] >= r["dau"] > 0
        assert 0 < r["stickiness"] <= 1


def test_session_paths_gap_splitting(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        session_paths_events,
    )

    t0 = datetime(2024, 3, 1, 12, 0, 0)

    def at(minutes):
        return datetime(2024, 3, 1, 12, minutes, 0)

    rows = [
        (1, 1, t0, "view"),
        (1, 2, at(10), "click"),   # 10 min gap: same session
        (1, 3, at(41), "purchase"),  # 31 min gap: NEW session
        (2, 4, t0, "view"),
        (2, 5, at(10), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r["path"]: r["n_sessions"] for r in session_paths_events(spark, str(tmp_path)).collect()}
    assert got == {"view>click": 2, "purchase": 1}


def test_wilson_lower_bound_properties(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        ctr_wilson_bounds,
    )

    rows = ctr_wilson_bounds(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["successes"] <= r["trials"]
        # the lower bound is a shrunk estimate: below p_hat, never negative
        assert 0 <= r["wilson_lower"] <= r["p_hat"] + 1e-9


def test_ab_split_is_deterministic_and_covers_all(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _events
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        ab_test_lift,
    )

    r1 = ab_test_lift(spark, sf_dir).collect()[0]
    r2 = ab_test_lift(spark, sf_dir).collect()[0]
    assert r1 == r2  # content-hash arms: rerun-stable
    total = _events(spark, sf_dir).filter(F.col("event_type") == "purchase").count()
    assert r1["n_a"] + r1["n_b"] == total


def test_skew_report_shares(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        skew_report_lineitem,
    )

    r = skew_report_lineitem(spark, sf_dir).collect()[0]
    assert 0 < r["max_share"] <= r["top10_share"] <= 1
    # HHI is bounded by [1/n_keys, 1]
    assert 1.0 / r["n_keys"] - 1e-9 <= r["hhi"] <= 1
    assert r["n_rows"] >= r["n_keys"]


def test_time_decay_weights_recency(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        time_decayed_engagement,
    )

    rows = [
        # user 1: value 8 this week; user 2: the same value 4+ weeks old
        (1, 1, datetime(2024, 3, 28, 12, 0, 0), "click", 8.0, "{}"),
        (2, 2, datetime(2024, 2, 1, 12, 0, 0), "click", 8.0, "{}"),
        (3, 3, datetime(2024, 3, 28, 13, 0, 0), "view", 99.0, "{}"),  # excluded type
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r["user_id"]: r["score"] for r in time_decayed_engagement(spark, td).collect()}
    assert got[1] == 8.0
    assert got[2] == 8.0 * 0.0625
    assert 3 not in got


def test_association_rules_math(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        association_rules_parts,
    )

    rows = association_rules_parts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_pair"] >= 2
        assert 0 < r["support"] <= r["confidence"] <= 1
        assert r["lift"] > 0


def test_entropy_bounds(spark, sf_dir):
    import math

    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        user_event_entropy,
    )

    rows = user_event_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # 0 ≤ H ≤ log2(n_types)
        assert -1e-9 <= r["entropy_bits"] <= math.log2(max(r["n_types"], 1)) + 1e-9


def test_equidepth_bins_balanced(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        equidepth_bins_orders,
    )

    rows = {r["bin"]: r["n"] for r in equidepth_bins_orders(spark, sf_dir).collect()}
    assert set(rows) == set(range(10))
    total = sum(rows.values())
    for n in rows.values():
        # each decile holds ~10% of rows (interpolated cutoffs: ±2%)
        assert abs(n / total - 0.1) < 0.02


def test_duplicate_chunk_spans_planted_boilerplate(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        duplicate_chunk_spans,
    )

    boiler = " ".join(f"b{i}" for i in range(64))  # one full shared chunk
    rows = [
        (1, boiler, "en", "web", 1),
        (2, boiler, "en", "web", 2),
        (3, " ".join(f"u{i}" for i in range(64)), "en", "web", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = duplicate_chunk_spans(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["min_doc"] == 1


def test_chisq_nonnegative_and_dof(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        chisq_event_dow,
    )

    r = chisq_event_dow(spark, sf_dir).collect()[0]
    assert r["chi2"] >= 0
    assert r["dof"] == (5 - 1) * (7 - 1)  # 5 event types x 7 weekdays
    assert r["n"] > 0


def test_trend_slope_recovers_line(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        daily_revenue_trend,
    )

    # y = 100 + 10x: one purchase per day with value 100+10*day
    rows = [
        (i, i, datetime(2024, 3, 1 + i, 12, 0, 0), "purchase", 100.0 + 10 * i, "{}")
        for i in range(10)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = daily_revenue_trend(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 10
    assert abs(r["slope_per_day"] - 10.0) < 1e-6
    assert abs(r["intercept"] - 100.0) < 1e-6


def test_funnel_latency_ordering(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        funnel_latency_percentiles,
    )

    r = funnel_latency_percentiles(spark, sf_dir).collect()[0]
    assert r["n_converted"] > 0
    assert 0 <= r["p50_s"] <= r["p90_s"]


def test_out_of_order_lateness_hand_case(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q04_retrieval_text import (
        out_of_order_stats_events,
    )

    rows = [
        (1, 1, datetime(2024, 3, 1, 12, 0, 0), "click", 0.0, "{}"),
        (2, 1, datetime(2024, 3, 1, 12, 10, 0), "click", 0.0, "{}"),
        # arrives third but happened 5 min before event 2: 300s late
        (3, 1, datetime(2024, 3, 1, 12, 5, 0), "click", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = out_of_order_stats_events(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 3
    assert r["max_late_us"] == 300 * 1_000_000
    assert abs(r["late_share"] - 1 / 3) < 1e-6
    assert r["very_late_share"] == 0.0


def test_js_divergence_clamp_boundary_cross_engine(spark):
    """Verdict r6 task #7: when a p/m ratio ROUNDS to 0 at 6dp (sources
    >4e6× apart on a token), Spark's ln(0)=NULL would silently drop the
    term while DuckDB's ln(0)=-inf poisons the sum — the GREATEST(...,
    1e-6) clamp must make both engines emit the identical finite
    ln(1e-6) term.  Probed at the exact boundary values on BOTH
    engines."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    ratios = [0.0, 4.9e-7, 5.1e-7, 1e-6, 0.5, 1.0]
    sdf = spark.createDataFrame([(r,) for r in ratios], "ratio double")
    got_spark = [
        r.term
        for r in sdf.select(
            F.log(F.greatest(F.round(F.col("ratio"), 6), F.lit(0.000001))).alias(
                "term"
            )
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT ln(greatest(round(CAST(? AS DOUBLE), 6), 0.000001))", [r]
        ).fetchone()[0]
        for r in ratios
    ]
    for s, d, r in zip(got_spark, got_duck, ratios):
        assert s is not None and math.isfinite(s), (r, s)
        assert s == d, (r, s, d)
    # the sub-boundary ratios clamp to exactly ln(1e-6) on both engines
    assert got_spark[0] == got_spark[1] == math.log(1e-6)
