"""Wave-42 semantic tests (round 10): KMV sketch overlap estimates
audited against exact distinct counts; domain quota sampling."""

import pyspark.sql.functions as F


def test_kmv_estimates_within_error_band_at_sf01(spark):
    """At sf0.1 every per-source sketch saturates k=64, so the union
    estimate must sit inside the KMV standard error band (~1/sqrt(k-2)
    ≈ 12.7%; assert 4 sigma) of the EXACT distinct union, pair by
    pair, and jaccard_est must track the exact jaccard within the
    same band (absolute, since jaccard here is small)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q24_kmv_quota import (
        kmv_overlap_sources,
    )

    sf = "/root/testdata/sf0.1"
    est = {
        (r["source_a"], r["source_b"]): r
        for r in kmv_overlap_sources(spark, sf).collect()
    }
    d = spark.read.parquet(f"{sf}/documents.parquet")
    fp = d.select(
        "source",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("f"),
    ).distinct()
    # exact pairwise unions via per-source distinct counts + pair inter
    counts = {r["source"]: r["c"] for r in fp.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    inter = {
        (r["sa"], r["sb"]): r["c"]
        for r in (
            fp.alias("a")
            .join(fp.alias("b"), (F.col("a.f") == F.col("b.f")) & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
    }
    rel_band = 4 / (62 ** 0.5)  # 4 sigma of the KMV estimator
    checked = 0
    for (a, b), r in est.items():
        exact_union = counts[a] + counts[b] - inter.get((a, b), 0)
        assert abs(r["est_union"] - exact_union) <= rel_band * exact_union, (
            a, b, r["est_union"], exact_union,
        )
        exact_j = inter.get((a, b), 0) / exact_union
        assert abs(r["jaccard_est"] - exact_j) <= rel_band + 0.02, (
            a, b, r["jaccard_est"], exact_j,
        )
        checked += 1
    assert checked == 190


def test_kmv_sketch_merge_is_exact_below_k(spark, tmp_path):
    """With fewer than k distinct fingerprints everywhere, the merged
    sketch IS the union set and inter_hits IS the exact intersection."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q24_kmv_quota import (
        kmv_overlap_sources,
    )

    rows = [
        (1, "shared one", "en", "sA", 1),
        (2, "only a", "en", "sA", 1),
        (3, "shared one", "en", "sB", 1),
        (4, "only b", "en", "sB", 1),
        (5, "only b two", "en", "sB", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = kmv_overlap_sources(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("sA", "sB")
    assert r["inter_hits"] == 1  # exactly the shared fingerprint


def test_domain_quota_caps_and_is_hash_deterministic(spark, tmp_path):
    """Above-cap domains keep exactly cap docs chosen by the md5(doc_id)
    order — pinned by recomputing the expected kept-id sum."""
    import hashlib

    from imdb_metacritic_data_warehouse_spark.entry_queries.q24_kmv_quota import (
        domain_quota_sample_docs,
    )

    # 80 docs all landing in domain src5.com: doc_id even (tld .com),
    # source src5
    rows = [(2 * i, f"text {i}", "en", "src5", 1) for i in range(80)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["domain"]: r for r in domain_quota_sample_docs(spark, str(tmp_path)).collect()}
    r = out["src5.com"]
    assert r["n_docs"] == 80 and r["kept"] == 30
    ranked = sorted(
        (int(hashlib.md5(str(2 * i).encode()).hexdigest()[:15], 16), 2 * i)
        for i in range(80)
    )
    assert r["kept_id_sum"] == sum(doc for _h, doc in ranked[:30])
