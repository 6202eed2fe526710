"""Semantic invariants for the wave-33 operators (round 8): Brier
decomposition, ACF/Ljung-Box, McNemar paired test."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_brier_murphy_identity_and_ranges(spark):
    """Bin-constant forecasts make BS = REL − RES + UNC an identity up
    to the final roundings; every term lives in [0, 1] and UNC ≤ 1/4."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q17_calibration_series import (
        brier_decomposition_docs,
    )

    r = brier_decomposition_docs(spark, SF).collect()[0]
    assert 0.0 <= r.brier <= 1.0
    assert 0.0 <= r.reliability <= 1.0
    assert 0.0 <= r.resolution <= r.uncertainty + 1e-9  # RES <= UNC always
    assert 0.0 <= r.uncertainty <= 0.25 + 1e-9
    assert abs(r.identity_residual) < 2e-6  # rounding slack only


def test_brier_perfect_forecast(spark, tmp_path):
    """All docs identical ⇒ one bin, p = 0.5-grid value vs a constant
    outcome: with every doc the same, o = 0 for all (no doc exceeds the
    mean strictly), p = 0.5 ⇒ BS = 0.25, REL = 0.25, RES = 0, UNC = 0."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q17_calibration_series import (
        brier_decomposition_docs,
    )

    rows = [(i, "same text here", "en", "s", 100) for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = brier_decomposition_docs(spark, str(tmp_path)).collect()[0]
    assert r.uncertainty == 0.0
    assert r.resolution == 0.0
    assert abs(r.brier - 0.25) < 1e-9
    assert abs(r.reliability - 0.25) < 1e-9


def test_acf_lag_structure(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q17_calibration_series import (
        acf_ljungbox_daily,
    )

    rows = sorted(acf_ljungbox_daily(spark, SF).collect(), key=lambda r: r.lag)
    assert [r.lag for r in rows] == list(range(1, 8))
    for r in rows:
        assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9
    # Q is shared across rows and non-negative
    qs = {r.ljung_box_q for r in rows}
    assert len(qs) == 1 and qs.pop() >= 0.0


def test_acf_constant_alternating_series(spark, tmp_path):
    """A strictly alternating daily series (+1/−1 around its mean) has
    ACF(1) ≈ −1 and ACF(2) ≈ +1 — the sign pattern is exact."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q17_calibration_series import (
        acf_ljungbox_daily,
    )

    rows = []
    for day in range(1, 25):
        v = 10.0 if day % 2 == 0 else 20.0
        rows.append((day, f"2024-05-{day:02d} 09:00:00", v))
    spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = {r.lag: r for r in acf_ljungbox_daily(spark, str(tmp_path)).collect()}
    assert got[1].acf < -0.9
    assert got[2].acf > 0.85
    assert got[1].reject_white_noise


def test_mcnemar_cells_partition_corpus(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q17_calibration_series import (
        mcnemar_rules_docs,
    )

    r = mcnemar_rules_docs(spark, SF).collect()[0]
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert r.both_flag + r.only_a + r.only_b + r.neither == n
    if r.only_a + r.only_b > 0:
        want = (abs(r.only_a - r.only_b) - 1) ** 2 / (r.only_a + r.only_b)
        assert abs(r.mcnemar_chi2 - round(want, 6)) < 1e-9


def test_power_sample_size_monotone(spark):
    """Wave-34: n per arm is strictly decreasing in the MDE (quadratic
    1/mde² law) and consistent with the closed form recomputed from the
    reported mean/stddev."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q18_power_analysis import (
        ab_power_sample_size_events,
    )

    rows = sorted(
        ab_power_sample_size_events(spark, SF).collect(), key=lambda r: r.mde_pct
    )
    assert [r.mde_pct for r in rows] == [1.0, 2.0, 5.0, 10.0]
    ns = [r.n_per_arm for r in rows]
    assert ns == sorted(ns, reverse=True) and ns[-1] >= 1
    z2 = (1.959963984540054 + 0.8416212335729143) ** 2
    for r in rows:
        want = 2.0 * z2 * r.stddev_value**2 / ((r.mde_pct / 100) * r.mean_value) ** 2
        # rounding of mean/stddev to 6 decimals shifts the recompute a bit
        assert abs(r.n_per_arm - want) / want < 0.01
