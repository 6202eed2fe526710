"""Semantic invariants for the wave-23 operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# isotonic_calibration_docs — PAV guarantees


@pytest.fixture(scope="module")
def iso_rows(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    return sorted(
        QUERIES["isotonic_calibration_docs"](spark, SF).collect(),
        key=lambda r: r.bin,
    )


def test_isotonic_fit_is_monotone(iso_rows):
    fitted = [r.fitted_rate for r in iso_rows]
    assert fitted == sorted(fitted)
    for r in iso_rows:
        assert 0.0 <= r.fitted_rate <= 1.0


def test_isotonic_preserves_weighted_mean(iso_rows):
    """PAV redistributes within pools: the n-weighted mean of fitted
    equals the overall positive rate (up to the two display
    roundings)."""
    n = sum(r.n for r in iso_rows)
    pos = sum(r.n_pos for r in iso_rows)
    wmean = sum(r.n * r.fitted_rate for r in iso_rows) / n
    assert abs(wmean - pos / n) < 1e-4


def test_isotonic_equals_pav_model(iso_rows):
    """The minimax closed form must agree with the classic sequential
    PAV pooling algorithm run on the same decile counts."""
    blocks = [[r.n_pos, r.n, 1] for r in iso_rows]  # [pos, n, n_bins]
    i = 0
    while i + 1 < len(blocks):
        # violation: rate(i) > rate(i+1)  (cross-multiplied, exact)
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    expanded = []
    for pos, nn, nbins in blocks:
        expanded.extend([pos / nn] * nbins)
    assert len(expanded) == len(iso_rows)
    for got, want in zip((r.fitted_rate for r in iso_rows), expanded):
        assert abs(got - want) < 1e-6


# --------------------------------------------------------------------------
# bradley_terry_brands


def test_bradley_terry_hand_case(spark):
    """Two players, A beats B twice: s1_A = n_AB/2 = 1, p1_A = 2/1 = 2,
    p1_B = 0; iteration 2 is a fixed point (s = 2/(2+0) = 1).  Checked
    through the registered query machinery on a synthetic frame is
    overkill — the MM algebra is replayed directly."""
    n_ab = 2.0
    w_a, w_b = 2.0, 0.0
    s_a = n_ab / 2.0
    p1_a, p1_b = round(w_a / s_a, 6), round(w_b / s_a, 6)
    assert (p1_a, p1_b) == (2.0, 0.0)
    s2_a = n_ab / (p1_a + p1_b)
    p2_a = round(w_a / s2_a, 6)
    assert p2_a == 2.0  # fixed point: all mass on the undefeated player


def test_bradley_terry_query_invariants(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["bradley_terry_brands"](spark, SF).collect()
    assert len(rows) == 25
    for r in rows:
        assert r.wins <= r.contests
        assert r.strength_1 >= 0.0 and r.strength_2 >= 0.0
    # total wins == total contests / 2 (every contest has one winner)
    assert sum(r.wins for r in rows) * 2 == sum(r.contests for r in rows)
    # more wins per contest should correlate with strength: the
    # undefeated-est brand must not have strength 0
    best = max(rows, key=lambda r: r.wins / r.contests)
    assert best.strength_2 > 0.0


# --------------------------------------------------------------------------
# frequent_triples_parts


def test_frequent_triples_support_vs_bruteforce(spark):
    """In-task cubic expansion == brute-force itertools on the same
    basket set, including the top-20 cut order."""
    import itertools

    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _t

    li = _t(spark, SF, "lineitem")
    pt = _t(spark, SF, "part")
    ob = (
        li.join(pt.select("p_partkey", "p_brand"), li.l_partkey == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .collect()
    )
    baskets = {}
    for r in ob:
        baskets.setdefault(r.o, set()).add(r.b)
    supp = {}
    for bs in baskets.values():
        for t in itertools.combinations(sorted(bs), 3):
            supp[t] = supp.get(t, 0) + 1
    want = sorted(supp.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = sorted(
        QUERIES["frequent_triples_parts"](spark, SF).collect(), key=lambda r: r.rnk
    )
    got = [((r.ba, r.bb, r.bc), r.supp) for r in rows]
    assert got == want
    # lift sanity: positive, and supp never exceeds any single support
    singles = {}
    for bs in baskets.values():
        for b in bs:
            singles[b] = singles.get(b, 0) + 1
    for r in rows:
        assert r.lift > 0
        assert r.supp <= min(singles[r.ba], singles[r.bb], singles[r.bc])
