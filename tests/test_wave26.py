"""Semantic invariants for the wave-26 operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# cka_quantization_audit


def test_cka_identity_is_one(spark):
    """CKA of X with itself must be exactly 1: replay the cell algebra
    with Y := X through cka_grids on a synthetic frame (levels high
    enough that the quantized Y grid equals the X grid)."""
    from imdb_metacritic_data_warehouse_spark.operators.similarity import cka_grids

    df = spark.range(50).select(
        F.expr(
            "transform(sequence(0, 7), i ->"
            " CAST((id * 37 + i * 11) % 200 - 100 AS DOUBLE) / 100.0D)"
        ).alias("embedding")
    )
    # quant_levels = 10^4 == metric scale => Y quantizes exactly to X's grid
    g = {
        (r.grid, r.i, r.j): int(r.s)
        for r in cka_grids(df, quant_levels=10**8).collect()
    }
    for (grid, i, j), s in g.items():
        if grid == "xx":
            assert g[("yy", i, j)] == s
            assert g[("xy", i, j)] == s
        if grid == "sx":
            assert g[("sy", i, j)] == s


def test_cka_query_in_unit_range_and_high(spark):
    """int8 on unit-norm embeddings preserves geometry almost exactly:
    CKA must be in (0.99, 1.0] and the energy ratio near 1."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["cka_quantization_audit"](spark, SF).collect()[0]
    assert 0.99 < r.cka <= 1.0 + 1e-9
    assert 0.9 < r.energy_ratio < 1.1
    assert r.n_vecs > 0


# --------------------------------------------------------------------------
# seasonal_anomaly_monthly


def test_seasonal_anomaly_flags_match_mad_rule(spark):
    """Recompute the MAD rule from the returned remainders: flags must
    agree with |r − median| > 3·1.4826·MAD."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = sorted(
        QUERIES["seasonal_anomaly_monthly"](spark, SF).collect(),
        key=lambda r: r.month_idx,
    )
    assert len(rows) > 30
    rs = sorted(r.remainder_x24 for r in rows)
    n = len(rs)
    med = (rs[(n + 1) // 2 - 1] + rs[(n + 2) // 2 - 1]) / 2.0
    ads = sorted(abs(x - med) for x in rs)
    mad = (ads[(n + 1) // 2 - 1] + ads[(n + 2) // 2 - 1]) / 2.0
    for r in rows:
        want = 1 if abs(r.remainder_x24 - med) > 3.0 * 1.4826 * mad else 0
        # display rounding can flip within-epsilon cases; tolerate only
        # those within 1e-3 of the threshold
        if abs(abs(r.remainder_x24 - med) - 3.0 * 1.4826 * mad) > 1e-3:
            assert r.is_anomaly == want, r.month_idx
        assert r.severity >= 0.0


# --------------------------------------------------------------------------
# neardup_cluster_tightness


def test_tightness_planted_neardups_are_tight(spark):
    """The corpus plants +3-word near-dups (doc_id+1000000 for every
    %25 doc): size-2 clusters are (original, planted) pairs whose
    Jaccard is far above θ=0.6 — so n_tight == n_pairs for size 2, and
    min similarity is high."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = {r.cluster_size: r for r in
            QUERIES["neardup_cluster_tightness"](spark, SF).collect()}
    assert 2 in rows
    r2 = rows[2]
    assert r2.n_pairs >= 1
    assert r2.n_tight == r2.n_pairs
    assert r2.min_jacc_ppm > 600000
    for r in rows.values():
        assert r.n_tight <= r.n_pairs
        assert 0 <= r.min_jacc_ppm <= 1000000
        assert r.sum_inter <= r.sum_union


# --------------------------------------------------------------------------
# wave 27 — negative sampling + feature hashing


def test_negative_sampling_smoothing_property(spark):
    """^0.75 smoothing must FLATTEN the distribution: for any two words
    with c_a > c_b, prob_a/prob_b < c_a/c_b; probabilities positive and
    ranked by count within the returned slice (pow is monotone)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["negative_sampling_table_docs"](spark, SF).collect()
    assert len(rows) == 30
    top = rows[0]
    for r in rows[1:]:
        # Row.count is the tuple method — index the column by name
        assert top["count"] >= r["count"]
        if r["count"] < top["count"]:
            assert (top.pow_u / r.pow_u) < (top["count"] / r["count"])
    assert all(r.sample_prob > 0 for r in rows)


def test_feature_hashing_counts_consistent(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["feature_hashing_audit_docs"](spark, SF).collect()[0]
    assert r.n_buckets_used <= 4096
    assert r.n_buckets_used <= r.n_vocab
    assert r.n_collided_buckets <= r.n_buckets_used
    assert r.n_collided_terms >= 2 * r.n_collided_buckets or r.n_collided_buckets == 0
    assert r.max_bucket_terms >= 1
    assert 0.0 <= r.collided_mass_share <= 1.0
    # vocab conservation: collided + singleton terms == vocab
    singletons = r.n_buckets_used - r.n_collided_buckets
    assert singletons + r.n_collided_terms == r.n_vocab


# --------------------------------------------------------------------------
# wave 28 — incremental join-view maintenance + blocking quality


def test_incremental_join_view_equals_full_recompute(spark):
    """The incrementally maintained view must equal the naive full
    join-aggregate, and the ΔA⋈B_old term is empty by the key split
    (new orders have no lines in the old snapshot)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.entry_queries._registry import _t
    from pyspark.sql import functions as FF

    inc = {
        r.priority: (r.n_items, r.revenue)
        for r in QUERIES["incremental_join_view_orders"](spark, SF).collect()
    }
    o = _t(spark, SF, "orders")
    li = _t(spark, SF, "lineitem")
    full = {
        r.priority: (r.n_items, r.revenue)
        for r in (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy(FF.col("o_orderpriority").alias("priority"))
            .agg(
                FF.count(FF.lit(1)).cast("bigint").alias("n_items"),
                FF.round(FF.sum(FF.col("l_extendedprice").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("revenue"),
            )
            .collect()
        )
    }
    assert inc == full


def test_blocking_quality_planted_pairs_complete(spark):
    """Planted near-dups share the first two words (the suffix is
    appended at the END), so the first-2-word blocking must find every
    true pair: pairs_completeness == 1.0; and blocking must avoid the
    vast majority of the N² pairs."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["blocking_quality_audit_docs"](spark, SF).collect()[0]
    assert r.n_true >= 1
    assert r.n_found == r.n_true
    assert r.pairs_completeness == 1.0
    assert r.reduction_ratio > 0.5
    assert r.n_cand < r.n_docs * (r.n_docs - 1) // 2
    assert r.max_block <= r.n_docs
