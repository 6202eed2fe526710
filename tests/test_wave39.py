"""Wave-39 semantic tests (round 10): k-means Lloyd, Rocchio PRF
expansion, boilerplate template detection."""

import math

import pyspark.sql.functions as F


def _write_embeddings(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))


def test_kmeans_assigns_to_nearest_seed_and_counts_exactly(spark, tmp_path):
    """Seeds are vec_ids 0..7; planted points sit exactly on seed 3's
    coordinates, so after two Lloyd rounds they must be members of
    cluster 3 with zero inertia contribution."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        kmeans_lloyd_embeddings,
    )

    dim = 64
    # 8 well-separated seeds: seed k = one-hot at position k scaled k+1
    rows = []
    for k in range(8):
        v = [0.0] * dim
        v[k] = float(k + 1)
        rows.append((k, v, 0))
    # two clones of seed 3 — must join cluster 3 at distance 0 (the
    # centroid stays at seed 3's position since all members coincide)
    v3 = [0.0] * dim
    v3[3] = 4.0
    rows += [(100, v3, 0), (101, v3, 0)]
    _write_embeddings(spark, tmp_path, rows)
    out = {r["cluster_id"]: r for r in kmeans_lloyd_embeddings(spark, str(tmp_path)).collect()}
    assert out[3]["n_members"] == 3
    assert out[3]["inertia_units"] == 0
    assert out[3]["min_member"] == 3
    assert sum(r["n_members"] for r in out.values()) == 10


def test_kmeans_recentys_between_rounds(spark, tmp_path):
    """A point nearer seed 0 than any other seed pulls centroid 0
    toward itself after round 1; round-2 assignment then uses the
    MOVED centroid — pinned by the exact integer inertia."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        kmeans_lloyd_embeddings,
    )

    dim = 64
    rows = []
    for k in range(8):
        v = [0.0] * dim
        v[k] = float(10 * (k + 1))
        rows.append((k, v, 0))
    # point at 0.4 along axis 0 (seed 0 is at 10.0): joins cluster 0;
    # round-1 centroid moves to (10+0.4)/2 = 5.2 on axis 0
    v = [0.0] * dim
    v[0] = 0.4
    rows.append((50, v, 0))
    _write_embeddings(spark, tmp_path, rows)
    out = {r["cluster_id"]: r for r in kmeans_lloyd_embeddings(spark, str(tmp_path)).collect()}
    assert out[0]["n_members"] == 2
    # units: 10.0 -> 100000, 0.4 -> 4000, centroid 52000
    # round-2 distances: (100000-52000)^2 + (4000-52000)^2
    assert out[0]["inertia_units"] == 48000**2 + 48000**2


def test_rocchio_expands_with_cooccurring_terms(spark, tmp_path):
    """Terms co-occurring with the query inside the pseudo-relevant
    top-10 outrank corpus-frequent terms that never co-occur; the
    weight is rel_tf * ln(N/df) rounded to 6dp."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        rocchio_expansion_docs,
    )

    rows = []
    # 10 relevant docs: query terms + the marker 'telemetry'
    for i in range(10):
        rows.append((i, "spark window merge telemetry pipeline", "en", "s", 1))
    # 30 background docs: no query terms, common word 'background'
    for i in range(10, 40):
        rows.append((i, "background noise filler words here", "en", "s", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = rocchio_expansion_docs(spark, str(tmp_path)).collect()
    terms = [r["term"] for r in out]
    assert "telemetry" in terms and "pipeline" in terms
    assert "background" not in terms  # never co-occurs with the query
    r = next(r for r in out if r["term"] == "telemetry")
    assert r["rel_tf"] == 10 and r["df"] == 10
    assert abs(r["weight"] - round(10 * math.log(40 / 10), 6)) < 1e-9
    # query terms themselves are excluded from the expansion
    assert not set(terms) & {"spark", "window", "merge"}


def test_boilerplate_counts_shared_prefixes(spark, tmp_path):
    """Docs sharing their first-8-token fingerprint count as one
    template; unique prefixes do not."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        boilerplate_templates_docs,
    )

    header = "site nav home about contact login search menu"  # 8 tokens
    rows = [
        (1, header + " unique body one two", "en", "s1", 1),
        (2, header + " other body content here", "en", "s1", 1),
        (3, "completely different text with no shared tokens at all", "en", "s1", 1),
        (4, "short doc", "en", "s2", 1),  # <8 tokens: whole text is the fp
        (5, "short doc", "en", "s2", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in boilerplate_templates_docs(spark, str(tmp_path)).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 3
    assert s1["pre_templates"] == 1 and s1["pre_template_docs"] == 2
    assert s1["top_pre_docs"] == 2
    # suffixes all differ in s1
    assert s1["suf_templates"] == 0
    # the short exact clones template on BOTH ends (prefix == suffix ==
    # the whole text)
    s2 = out["s2"]
    assert s2["pre_templates"] == 1 and s2["suf_templates"] == 1
    assert s2["pre_template_docs"] == 2 and s2["top_suf_docs"] == 2


def test_cuped_reduces_variance_with_correlated_pre_period(spark, tmp_path):
    """Planted users whose post value is exactly 2x their pre value:
    theta = 2 and the adjusted variance collapses to ~0; an
    uncorrelated-noise user set keeps var_adjusted <= var_post."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        cuped_variance_reduction_events,
    )

    rows = []
    eid = 0
    # users 0..9: pre = 10*(u+1) on Jan 5, post = 2*pre on Jan 20
    for u in range(10):
        rows.append((eid, "2024-01-05 10:00:00", u, "buy", 10.0 * (u + 1), "{}")); eid += 1
        rows.append((eid, "2024-01-20 10:00:00", u, "buy", 20.0 * (u + 1), "{}")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {r["variant"]: r for r in cuped_variance_reduction_events(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    for v in (0, 1):
        assert out[v]["theta"] == 2.0
        # post = theta*pre exactly -> adjusted variance is zero
        assert abs(out[v]["var_adjusted"]) < 1e-6
        assert out[v]["var_post"] > 0
        assert out[v]["n_users"] == 5


def test_bbse_reference_source_has_unit_weights(spark, tmp_path):
    """On the reference source itself mu = C's column sums, so w must
    be exactly (1, 1); a target whose positive-rate doubles shows
    w1 > 1.  Uses a perfectly accurate classifier (pred == y) so the
    2x2 system is diagonal and the closed form is easy to pin."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q23_kmeans_prf_templates import (
        label_shift_bbse_docs,
    )

    long_text = " ".join(["alpha beta gamma delta"] * 15)  # 60 tokens: y=1
    short_text = "tiny doc"                                # y=0
    rows = []
    i = 0
    # src0 (reference): 10 pos, 10 neg
    for _ in range(10):
        rows.append((i, long_text, "en", "src0", 1)); i += 1
        rows.append((i, short_text, "en", "src0", 1)); i += 1
    # srcT: 12 pos, 3 neg — shifted prior
    for _ in range(12):
        rows.append((i, long_text, "en", "srcT", 1)); i += 1
    for _ in range(3):
        rows.append((i, short_text, "en", "srcT", 1)); i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in label_shift_bbse_docs(spark, str(tmp_path)).collect()}
    # sanity: the classifier is perfect on this fixture (long docs
    # score above 0.5, the tiny one below), so w = target/source prior
    assert out["src0"]["w0"] == 1.0 and out["src0"]["w1"] == 1.0
    t = out["srcT"]
    assert abs(t["w1"] - (12 / 15) / (10 / 20)) < 1e-6   # 1.6
    assert abs(t["w0"] - (3 / 15) / (10 / 20)) < 1e-6    # 0.4
