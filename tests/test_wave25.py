"""Semantic invariants for the wave-25 operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# logrank_test_users


def test_logrank_statistic_sane(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["logrank_test_users"](spark, SF).collect()[0]
    assert r.n_days >= 1
    assert r.chi2_logrank >= 0.0
    assert r.expected_a > 0.0
    # both cohorts churn everyone eventually: observed_a is the cohort-A
    # user count (every user's last day is a churn), expected near it
    # under the null since the hash split is ~50/50
    assert 0.2 < r.observed_a / (2 * r.expected_a) < 0.9


def test_logrank_identical_cohorts_is_zero(spark):
    """Replaying the log-rank algebra with cohort A := everyone halved
    (perfectly proportional) must give chi2 = 0 — O equals E on every
    day by construction."""
    days = [(10, 4, 3), (8, 2, 1)]  # (n, d, ...) with n_a = n/2, d_a = d/2
    o = e = v = 0.0
    for n, d, _ in days:
        n_a = n / 2
        d_a = d / 2
        o += d_a
        e += d * n_a / n
        v += d * (n_a / n) * (1 - n_a / n) * ((n - d) / (n - 1))
    assert abs(o - e) < 1e-12
    assert v > 0


# --------------------------------------------------------------------------
# holt_winters_daily


def test_holt_winters_matches_serial_model(spark):
    """The array fold must equal the serial additive HW recursion run in
    plain Python on the same daily series."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _t

    o = _t(spark, SF, "orders")
    daily = sorted(
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
        .collect(),
        key=lambda r: r.d,
    )
    ys = [float(r.cents) for r in daily]
    assert len(ys) >= 21
    l0 = sum(ys[:7]) / 7.0
    # seasonal queue: index 0 is the factor due at the NEXT step
    state = [l0, 0.0] + [y - l0 for y in ys[:7]]
    for y in ys[7:]:
        l, b, s = state[0], state[1], state[2]
        l2 = 0.5 * (y - s) + 0.5 * (l + b)
        b2 = 0.3 * (l2 - l) + 0.7 * b
        s2 = 0.2 * (y - l2) + 0.8 * s
        state = [l2, b2] + state[3:] + [s2]
    r = QUERIES["holt_winters_daily"](spark, SF).collect()[0]
    assert r.n_days == len(ys)
    assert abs(r.level - round(state[0] / 100.0, 4)) < 1e-9
    assert abs(r.trend - round(state[1] / 100.0, 4)) < 1e-9
    assert abs(r.season_next - round(state[2] / 100.0, 4)) < 1e-9
    assert abs(
        r.forecast_next - round((state[0] + state[1] + state[2]) / 100.0, 4)
    ) < 1e-9


def test_holt_winters_constant_series_fixed_point(spark):
    """On a constant series the additive HW recursion is a fixed point:
    level = the constant, trend = 0, seasonals = 0."""
    ys = [500.0] * 30
    l0 = sum(ys[:7]) / 7.0
    state = [l0, 0.0] + [y - l0 for y in ys[:7]]
    for y in ys[7:]:
        l, b, s = state[0], state[1], state[2]
        l2 = 0.5 * (y - s) + 0.5 * (l + b)
        b2 = 0.3 * (l2 - l) + 0.7 * b
        s2 = 0.2 * (y - l2) + 0.8 * s
        state = [l2, b2] + state[3:] + [s2]
    assert abs(state[0] - 500.0) < 1e-9
    assert abs(state[1]) < 1e-9
    assert all(abs(s) < 1e-9 for s in state[2:])
