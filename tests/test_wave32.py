"""Semantic invariants for the wave-32 operators (round 8): character
entropy, Zipf slope, length-bucketing audit."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# char_entropy_docs


def test_char_entropy_known_values(spark, tmp_path):
    """Hand-checkable fixtures: a single repeated char has H = 0 (and
    is flagged); a uniform 4-symbol doc has H = 2 exactly; a uniform
    8-symbol doc has H = 3."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q16_entropy_zipf import (
        char_entropy_docs,
    )

    rows = [
        (1, "aaaaaaaa", "en", "s", 8),
        (2, "abcdabcd", "en", "s", 8),
        (3, "abcdefgh", "en", "s", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in char_entropy_docs(spark, str(tmp_path)).collect()}
    assert got[1].entropy_bits == 0.0 and got[1].low_entropy
    assert abs(got[2].entropy_bits - 2.0) < 1e-9 and not got[2].low_entropy
    assert abs(got[3].entropy_bits - 3.0) < 1e-9


def test_char_entropy_bounded_by_alphabet(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q16_entropy_zipf import (
        char_entropy_docs,
    )

    for r in char_entropy_docs(spark, SF).collect():
        assert 0.0 <= r.entropy_bits <= math.log2(max(r.n_chars_counted, 2)) + 1e-9


# --------------------------------------------------------------------------
# length_bucketing_audit_docs


def test_length_bucketing_partition_and_waste(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q16_entropy_zipf import (
        length_bucketing_audit_docs,
    )

    rows = sorted(
        length_bucketing_audit_docs(spark, SF).collect(), key=lambda r: r.bucket
    )
    assert [r.bucket for r in rows] == [1, 2, 3, 4]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    # equal-rank buckets: sizes differ by at most 1... (floor split: by
    # at most ceil(n/4)-floor(n/4)) — and bucket maxima are monotone
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    maxes = [r.max_tok for r in rows]
    assert maxes == sorted(maxes)
    for r in rows:
        assert r.used_tokens <= r.padded_tokens
        assert 0.0 <= r.waste_ratio < 1.0
    # bucketing must beat one global bucket on padded mass
    global_padded = n_docs * maxes[-1]
    assert sum(r.padded_tokens for r in rows) <= global_padded
