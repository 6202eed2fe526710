"""Wave-38 semantic tests (round 10): influence selection, URL/domain
dedup + canonicalization, cross-lingual near-dup detection."""

import pyspark.sql.functions as F
import pytest


def test_url_helpers_extract_and_canonicalize(spark):
    from imdb_metacritic_data_warehouse_spark.functions.parsing import (
        canonical_url,
        registrable_domain,
        url_host,
        url_path,
    )

    rows = [
        ("https://www.news.example.com/a/b?utm=x#frag",),
        ("http://m.example.org/page/7",),
        ("https://example.com",),  # no path at all
        ("https://sub.deep.example.co/x",),
    ]
    df = spark.createDataFrame(rows, "url string").select(
        url_host(F.col("url")).alias("h"),
        url_path(F.col("url")).alias("p"),
        canonical_url(F.col("url")).alias("c"),
        registrable_domain(F.col("url")).alias("d"),
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0] == (
        "www.news.example.com",
        "/a/b",
        # www. strips only as a LEADING label; query+fragment dropped
        "news.example.com/a/b",
        "example.com",
    )
    assert got[1] == ("m.example.org", "/page/7", "example.org/page/7", "example.org")
    assert got[2] == ("example.com", "", "example.com", "example.com")
    # deeper subdomains canonicalize unchanged (only www./m. strip) but
    # still roll up to the last two labels
    assert got[3] == (
        "sub.deep.example.co",
        "/x",
        "sub.deep.example.co/x",
        "example.co",
    )


def test_url_domain_dedup_merges_variants_and_counts_dup_mass(spark, tmp_path):
    """Three host variants (www./m./bare) of one domain with tracking
    params must collapse to the same canonical URLs; exact-text dups
    within the domain show up as dup mass."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q22_influence_url_xlingual import (
        url_domain_dedup_docs,
    )

    # doc_ids chosen so doc_id%3 cycles hosts, doc_id%2 fixes tld=.com,
    # doc_id%250 collides pairwise, and texts repeat once
    rows = [
        (0, "alpha text one", "x", "src0", 1),
        (6, "alpha text one", "x", "src0", 1),   # same page id? 6%250=6 — dup TEXT only
        (250, "beta text two", "x", "src0", 1),  # %250=0 → canonical collides with doc 0
        (502, "gamma text", "x", "src0", 1),     # m. host, page 2
    ]
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(p)
    out = {r["domain"]: r for r in url_domain_dedup_docs(spark, str(tmp_path)).collect()}
    d = out["src0.com"]
    assert d["n_urls"] == 4
    # hosts: www.(0,6? 6%3=0 www) ... doc 0→www, 6→www, 250→m.? 250%3=1 → m., 502%3=1? 502%3=1 → m.
    assert d["n_hosts"] == 2
    # canonical: strip www./m. → src0.com/page/{0,6,0,2} → 3 distinct
    assert d["n_canonical"] == 3
    # two docs share the exact text fingerprint → 1 dup doc
    assert d["dup_docs"] == 1
    assert d["blocked"] == 1  # src0.com is on the synthetic blocklist


def test_influence_ranks_rule_model_disagreement_per_token(spark, tmp_path):
    """influence = |rule_label·1e6 − quality_units| · ntok, exactly;
    the top-ranked doc per source is the largest disagreement."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q22_influence_url_xlingual import (
        influence_selection_docs,
    )
    from imdb_metacritic_data_warehouse_spark.operators.text import (
        quality_score,
        token_count_ws,
    )

    # long doc (label 1) with junk-ish text vs short doc (label 0)
    long_junk = " ".join(["zzz!!!"] * 60)          # 60 tokens, label 1, low quality
    short_clean = "the a and of to in is it done"  # 9 tokens, label 0
    rows = [(1, long_junk, "en", "s1", 1), (2, short_clean, "en", "s1", 1)]
    p = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(p + "/documents.parquet")
    out = influence_selection_docs(spark, p).collect()
    by_id = {r["doc_id"]: r for r in out}
    # recompute the exact integers independently
    ref = (
        spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
        .select(
            "doc_id",
            token_count_ws(F.col("text")).cast("long").alias("nt"),
            F.round(quality_score(F.col("text")) * 1000000, 0).cast("long").alias("qu"),
        )
        .collect()
    )
    for r in ref:
        y = 1 if 40 <= r["nt"] <= 250 else 0
        expect = abs(y * 1000000 - r["qu"]) * r["nt"]
        assert by_id[r["doc_id"]]["influence_units"] == expect
        assert by_id[r["doc_id"]]["rule_label"] == y
    # rank 1 = the bigger influence
    top = [r for r in out if r["rk"] == 1][0]
    assert top["influence_units"] == max(r["influence_units"] for r in out)


def test_crosslingual_neardup_finds_translated_clone(spark, tmp_path):
    """A text duplicated under two different language LABELS is a
    cross-lingual pair with jaccard 1.0; a same-language clone pair is
    excluded; pred_match reflects the shared stopword prediction."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q22_influence_url_xlingual import (
        crosslingual_neardup_docs,
    )

    body = "the quick brown fox jumps over the lazy dog again and again today"
    other = "der die das und ist nicht mit ein wort noch einmal heute hier"
    rows = [
        (1, body, "en", "s1", 1),
        (2, body, "fr", "s1", 1),       # translated-clone stand-in: label differs
        (3, body, "en", "s1", 1),       # same-lang clone of 1 — must NOT appear
        (4, other, "de", "s1", 1),      # unrelated
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = crosslingual_neardup_docs(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert set(pairs) == {(1, 2), (2, 3)}
    r = pairs[(1, 2)]
    assert r["jaccard"] == 1.0 and r["lang_a"] == "en" and r["lang_b"] == "fr"
    # both sides are the same English text → predictions agree →
    # flagged as a LABEL problem, not a translation pair
    assert r["pred_a"] == "en" and r["pred_match"] == 1


def test_crosslingual_collapsed_reexpands_to_uncollapsed_pair_count(spark, tmp_path):
    """m_a copies of one side and m_b of the other are one collapsed
    pair with pair_mult = m_a * m_b, matching the uncollapsed pair
    count; cross-lang EXACT clones survive collapse (keyed on
    (fingerprint, lang), not fingerprint alone)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q22_influence_url_xlingual import (
        crosslingual_neardup_collapsed,
        crosslingual_neardup_docs,
    )

    body = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, body, "en", "s1", 1),
        (2, body, "en", "s1", 1),
        (3, body, "en", "s1", 1),   # 3 EN copies
        (4, body, "fr", "s1", 1),
        (5, body, "fr", "s1", 1),   # 2 FR copies
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    collapsed = crosslingual_neardup_collapsed(spark, str(tmp_path)).collect()
    assert len(collapsed) == 1
    r = collapsed[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 4)
    assert {r["mult_a"], r["mult_b"]} == {3, 2}
    assert r["pair_mult"] == 6 and r["jaccard"] == 1.0
    # the uncollapsed op emits exactly pair_mult cross-lang pairs
    full = crosslingual_neardup_docs(spark, str(tmp_path)).collect()
    assert len(full) == 6
