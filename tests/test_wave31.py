"""Semantic invariants for the wave-31 operators (round 8):
Horvitz–Thompson PPS estimation, Benjamini–Hochberg FDR, Mann–Kendall
trend test."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# horvitz_thompson_docs


def test_ht_exact_when_all_probabilities_one(spark, tmp_path):
    """With 50 equal-size docs the PPS threshold caps at pi=1 for every
    doc (100·n_chars ≥ total), so the 'sample' is the population and
    the HT estimate must equal the true total exactly."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q15_stats_sampling import (
        horvitz_thompson_docs,
    )

    rows = [
        (i, " ".join(f"w{j}" for j in range(10)), "en", "s", 100)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    r = horvitz_thompson_docs(spark, str(tmp_path)).collect()[0]
    assert r.n_sampled == r.n == 50
    assert r.ht_estimate == float(r.true_tokens)
    assert r.rel_error == 0.0


def test_ht_estimate_in_band(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q15_stats_sampling import (
        horvitz_thompson_docs,
    )

    r = horvitz_thompson_docs(spark, SF).collect()[0]
    assert 0 < r.n_sampled <= r.n
    # PPS + HT on a ~100-doc expected sample: generous sanity band
    assert abs(r.rel_error) < 0.5


# --------------------------------------------------------------------------
# bh_fdr_sources


def test_bh_rejection_set_is_rank_prefix(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q15_stats_sampling import (
        bh_fdr_sources,
    )

    rows = sorted(bh_fdr_sources(spark, SF).collect(), key=lambda r: r.p_rank)
    assert [r.p_rank for r in rows] == list(range(1, len(rows) + 1))
    ps = [r.p_value for r in rows]
    assert ps == sorted(ps)
    assert all(0.0 < p <= 1.0 for p in ps)
    # thresholds are the BH ladder k*alpha/m
    m = len(rows)
    for r in rows:
        assert abs(r.bh_threshold - r.p_rank * 0.05 / m) < 1e-9
    # the rejected set is exactly a prefix of the p-ordering
    flags = [r.rejected for r in rows]
    if any(flags):
        k_star = max(i + 1 for i, f in enumerate(flags) if f)
        assert flags == [i < k_star for i in range(m)]
        # the defining property of k*: p_(k*) <= k*·alpha/m
        assert rows[k_star - 1].p_value <= rows[k_star - 1].bh_threshold + 1e-12


# --------------------------------------------------------------------------
# mann_kendall_daily


def test_mann_kendall_planted_increasing_trend(spark, tmp_path):
    """A strictly increasing daily series: S = n(n-1)/2, no ties, and
    the test must call 'increasing'."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q15_stats_sampling import (
        mann_kendall_daily,
    )

    rows = []
    eid = 0
    for day in range(1, 21):
        for k in range(day):  # day d carries d unit-value events
            rows.append((eid, f"2024-03-{day:02d} 10:00:00", 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    r = mann_kendall_daily(spark, str(tmp_path)).collect()[0]
    n = 20
    assert r.n_days == n
    assert r.s_stat == n * (n - 1) // 2
    assert r.trend == "increasing"
    assert r.z_stat > 1.96


def test_mann_kendall_runs_on_testdata(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q15_stats_sampling import (
        mann_kendall_daily,
    )

    r = mann_kendall_daily(spark, SF).collect()[0]
    assert r.var_s > 0
    assert r.trend in ("increasing", "decreasing", "no trend")
    # |S| is bounded by the pair count
    assert abs(r.s_stat) <= r.n_days * (r.n_days - 1) // 2
