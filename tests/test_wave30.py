"""Semantic invariants for the wave-30 operators (round 8): k-center
coreset, DoReMi-style domain reweighting, retraction-aware IVM."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# kcenter_coreset_embeddings


def test_kcenter_radii_non_increasing_and_distinct(spark):
    """Greedy k-center's coverage radius sequence is non-increasing
    (each pick is the current farthest point), centers are distinct,
    and the seed is the min vec_id."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q14_coreset_mixture import (
        kcenter_coreset_embeddings,
    )

    rows = sorted(
        kcenter_coreset_embeddings(spark, SF).collect(), key=lambda r: r.round
    )
    assert [r.round for r in rows] == list(range(1, 7))
    assert len({r.vec_id for r in rows}) == 6
    assert rows[0].radius is None
    radii = [r.radius for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert all(r > 0 for r in radii)
    min_id = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .agg(F.min("vec_id"))
        .first()[0]
    )
    assert rows[0].vec_id == min_id


def test_kcenter_planted_clusters(spark, tmp_path):
    """Three tight, well-separated clusters + k=6: the first three
    picks (seed + 2) must land in three DIFFERENT clusters — the
    farthest-point rule cannot pick twice from one tight cluster while
    another cluster is uncovered."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q14_coreset_mixture import (
        kcenter_coreset_embeddings,
    )

    rows = []
    vid = 0
    for c, base in enumerate((0.0, 100.0, -100.0)):
        for j in range(10):
            emb = [base + 0.001 * ((vid * 7 + i) % 5) for i in range(64)]
            rows.append((vid, [float(x) for x in emb], c))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = sorted(
        kcenter_coreset_embeddings(spark, str(tmp_path)).collect(),
        key=lambda r: r.round,
    )
    first3_clusters = {r.vec_id // 10 for r in got[:3]}
    assert first3_clusters == {0, 1, 2}


# --------------------------------------------------------------------------
# domain_reweight_step_docs


def test_domain_reweight_weights_normalize_and_upweight(spark):
    """Weights sum to 1 (within rounding) and a domain with
    above-average fertility gets at least its token share."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q14_coreset_mixture import (
        domain_reweight_step_docs,
    )

    rows = domain_reweight_step_docs(spark, SF).collect()
    assert rows
    total_w = sum(r.weight for r in rows)
    assert abs(total_w - 1.0) < 1e-4
    total_toks = sum(r.n_tokens for r in rows)
    global_fert = None  # reconstruct: weights==share iff excess==0
    for r in rows:
        share = r.n_tokens / total_toks
        # exp(excess)>=1, so before normalization every raw weight is
        # >= its share; after normalization the ORDERING vs share can
        # shift, but a max-fertility domain must not lose weight share
        # relative to a min-fertility domain.
        assert r.weight > 0
    hi = max(rows, key=lambda r: r.fertility)
    lo = min(rows, key=lambda r: r.fertility)
    hi_share = hi.n_tokens / total_toks
    lo_share = lo.n_tokens / total_toks
    assert hi.weight / hi_share >= lo.weight / lo_share - 1e-9


# --------------------------------------------------------------------------
# retraction_ivm_orders


def test_retraction_ivm_matches_naive_recompute(spark):
    """The delta-algebra merge must equal a naive recompute of the
    post-batch state — and customers whose every order was deleted
    must VANISH from the view (no zero rows)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q14_coreset_mixture import (
        retraction_ivm_orders,
    )

    got = retraction_ivm_orders(spark, SF)
    assert got.filter(F.col("n_orders") <= 0).count() == 0

    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("u"),
    )
    k = F.col("o_orderkey")
    keep = o.filter((k % 13 != 0) & (k % 17 != 0)).select("o_custkey", "u")
    upd = o.filter((k % 13 != 0) & (k % 17 == 0)).select(
        "o_custkey", (F.col("u") + 100000).alias("u")
    )
    ins = o.filter((k % 13 != 0) & (k % 17 != 0) & (k % 19 == 3)).select(
        "o_custkey", (F.col("u") + 50000).alias("u")
    )
    naive = (
        keep.unionByName(upd)
        .unionByName(ins)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("u").alias("su"))
    )
    a = {(r.custkey, r.n_orders, r.revenue) for r in got.collect()}
    b = {
        (r.o_custkey, r.n, round(r.su / 10000.0, 4)) for r in naive.collect()
    }
    assert a == b
