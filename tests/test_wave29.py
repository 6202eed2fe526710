"""Semantic invariants for the wave-29 operators (round 8): exact
substring dedup spans, PRD divergence frontier, tokenizer fertility
drift."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# substring_dup_spans_docs


def test_substring_spans_planted_duplicate(spark, tmp_path):
    """Two docs sharing one exact 40-char block (otherwise unique text)
    must each report exactly that block as a duplicated span: the
    16-gram islands inside a 40-char shared block merge into ONE span
    of exactly 40 chars; the unique remainder contributes nothing."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        substring_dup_spans_docs,
    )

    shared = "the quick brown fox jumps over lazy dogs"  # 40 chars
    assert len(shared) == 40
    # chars ADJACENT to the shared block must differ between the two
    # docs ('!'/'?' and 'z'/'d'), else a 16-gram straddling the
    # boundary also matches and legitimately widens the span.
    rows = [
        (1, "aaaa unique prefix one!" + shared + "zz unique tail qq"),
        (2, "bbbb other beginning xx?" + shared + "different ending r"),
        (3, "completely unrelated text with no repeats at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in substring_dup_spans_docs(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}  # doc 3 has no duplicated 16-gram
    for d in (1, 2):
        assert out[d].n_spans == 1
        assert out[d].dup_chars == 40


def test_substring_spans_bounded_by_doc_length(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        substring_dup_spans_docs,
    )

    for r in substring_dup_spans_docs(spark, SF).collect():
        assert 0 < r.dup_chars
        assert 0.0 < r.dup_ratio <= 1.0
        assert r.n_spans >= 1


# --------------------------------------------------------------------------
# prd_divergence_embeddings


def test_prd_identical_distributions_hit_corner(spark, tmp_path):
    """P == Q (the same cell histogram on both sides) must yield
    precision = recall = 1 at lambda = 1, and alpha(l) = min(l, 1),
    beta(l) = min(1/l, 1) on the dyadic grid."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        prd_divergence_embeddings,
    )

    # vec_id i and i+1 carry the SAME embedding -> even/odd halves have
    # identical cell histograms.
    rows = []
    for i in range(0, 64, 2):
        emb = [float(((i * 7 + j * 13) % 11) - 5) for j in range(8)]
        rows.append((i, emb, 0))
        rows.append((i + 1, emb, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.lam: (r.precision_a, r.recall_b)
        for r in prd_divergence_embeddings(spark, str(tmp_path)).collect()
    }
    for lam, (prec, rec) in got.items():
        assert abs(prec - min(lam, 1.0)) < 1e-9, lam
        assert abs(rec - min(1.0 / lam, 1.0)) < 1e-9, lam


def test_prd_values_in_unit_box(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        prd_divergence_embeddings,
    )

    rows = prd_divergence_embeddings(spark, SF).collect()
    assert len(rows) == 7
    for r in rows:
        # alpha(l) <= min(l, 1) and beta(l) <= min(1/l, 1) by definition
        assert 0.0 <= r.precision_a <= min(r.lam, 1.0) + 1e-9
        assert 0.0 <= r.recall_b <= min(1.0 / r.lam, 1.0) + 1e-9


# --------------------------------------------------------------------------
# tokenizer_fertility_drift


def test_fertility_monotone_under_more_merges(spark):
    """A second BPE merge can only shrink (or keep) per-word symbol
    counts, so fertility_v2 <= fertility_v1 and the drop is >= 0 for
    every source; fertility is always >= 1 token per word."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        tokenizer_fertility_drift,
    )

    rows = tokenizer_fertility_drift(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.tokens_v2 <= r.tokens_v1
        assert r.fertility_drop >= 0.0
        assert r.fertility_v2 >= 1.0
