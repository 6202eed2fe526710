"""Semantic invariants for the wave-19–21 operators — hand-computable
cases and guarantees the value-hash oracles can't express (the oracle
proves engine parity; these prove the SEMANTICS are the intended ones)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# wave 19 — HITS / modularity / item-item CF


def test_hits_bipartite_hand_graph(spark):
    """Star-ish bipartite: s1→{10,11,12}, s2→{10}.  Unnormalized integer
    HITS after 2 iterations: a1 = in-deg = (2,1,1); h1 = (4,2);
    a2 = (6,4,4); h2 = (14,6)."""
    from imdb_metacritic_data_warehouse_spark.operators.graph import hits_bipartite

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], ["src", "dst"]
    )
    got = {
        (r.role, r.node): r.score for r in hits_bipartite(edges).collect()
    }
    assert got[("hub", 1)] == 14
    assert got[("hub", 2)] == 6
    assert got[("authority", 10)] == 6
    assert got[("authority", 11)] == 4
    assert got[("authority", 12)] == 4


def test_hits_query_norm_scores_sum_per_role(spark):
    """Normalized scores are score/total — per-role norm of the FULL
    node set is 1, so the returned top-25 slice sums to ≤ 1 per role
    and every row is positive."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["hits_suppliers_parts"](spark, SF).collect()
    for role in ("hub", "authority"):
        part = [r for r in rows if r.role == role]
        assert 0 < len(part) <= 25
        assert all(r.score > 0 and r.norm_score > 0 for r in part)
        assert sum(r.norm_score for r in part) <= 1.0 + 1e-9
        scores = [r.score for r in part]
        assert scores == sorted(scores, reverse=True)


def test_modularity_bounds_and_additivity(spark):
    """Q ∈ [−1/2, 1); q_total equals the sum of per-community
    contributions (it is computed from the SUMMED integers — this pins
    the two definitions against each other); e_in ≤ d_sum/2."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["modularity_brand_copurchase"](spark, SF).collect()
    assert rows
    q = rows[0].q_total
    assert all(abs(r.q_total - q) < 1e-12 for r in rows)
    assert -0.5 <= q < 1.0
    assert abs(sum(r.q_contrib for r in rows) - q) < 1e-9
    assert all(2 * r.e_in <= r.d_sum for r in rows)


def test_item_cf_cosine_invariants(spark):
    """Cosine ∈ (0, 1]; ranks contiguous from 1 per anchor; at most 5
    neighbors per anchor; neighbor never equals the anchor."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["item_cf_cosine_parts"](spark, SF).collect()
    assert rows
    by_anchor = {}
    for r in rows:
        assert 0 < r.cosine <= 1.0 + 1e-9
        assert r.nbr != r.anchor
        by_anchor.setdefault(r.anchor, []).append(r.rn)
    for rns in by_anchor.values():
        assert sorted(rns) == list(range(1, len(rns) + 1))
        assert len(rns) <= 5


# --------------------------------------------------------------------------
# wave 20 — winnowing / DSIR / naive Bayes / SymSpell / CDC chunking


def test_winnowing_guarantee_planted_shared_span(spark):
    """Two docs sharing a 12-word span MUST share ≥ 1 fingerprint
    (w+n−1 = 6 ≤ 12 — the winnowing detection guarantee), and a doc
    with no shared text shares none."""
    from imdb_metacritic_data_warehouse_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " delta epsilon zeta"),
            (2, "one two three four " + shared),
            (3, "totally different words everywhere here now forever"),
        ],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(docs)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fph)
    assert by_doc[1] & by_doc[2], "planted span must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_density_bound(spark):
    """At least one fingerprint per w consecutive windows and at most
    one per position: for a doc of L shingles, 1 ≤ |fp| ≤ L − w + 1."""
    from imdb_metacritic_data_warehouse_spark.operators.text import (
        winnow_fingerprints,
    )

    words = " ".join(f"w{i}" for i in range(40))  # 38 shingles, 35 windows
    docs = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    n_fp = winnow_fingerprints(docs).count()
    assert 1 <= n_fp <= 35


def test_dsir_selection_excludes_target_and_sizes(spark):
    """Selected docs never come from the target source; the kept count
    is exactly ⌊n_raw/10⌋; ranks are 1..k on descending weight."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["dsir_selection_docs"](spark, SF).collect()
    assert rows
    assert all(r.source != "src1" for r in rows)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    n_raw = (
        d.filter((F.col("source") != "src1") & (F.size(F.split(F.lower("text"), " ")) >= 2))
        .count()
    )
    assert len(rows) == n_raw // 10
    rns = [r.rn for r in rows]
    assert rns == list(range(1, len(rows) + 1))
    ws = [r.weight for r in rows]
    assert ws == sorted(ws, reverse=True)


def test_naive_bayes_confusion_covers_test_split(spark):
    """Confusion-matrix counts sum to the held-out doc count; every
    predicted class is a training-split language."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["naive_bayes_lang_docs"](spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    n_test = d.filter(bkt == 0).count()
    train_langs = {
        r.lang for r in d.filter(bkt != 0).select("lang").distinct().collect()
    }
    assert sum(r.n for r in rows) == n_test
    assert {r.pred_lang for r in rows} <= train_langs


def test_spell_candidates_are_edit_distance_one(spark):
    """Every correction is within Levenshtein 1 of its typo, differs
    from it, and is more frequent than the typo."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["spell_candidates_docs"](spark, SF).collect()
    assert rows, "planted typos must produce candidates"

    def lev1(a: str, b: str) -> bool:
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        # classic DP, small strings only
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[lb] <= 1

    for r in rows:
        assert lev1(r.typo, r.correction), (r.typo, r.correction)
        assert r.corr_freq > r.n_occurrences


def test_cdc_chunk_dedup_invariants(spark):
    """Distinct ≤ total, dup_share ∈ [0, 1), mean chunk length ≥ 1 —
    and the hash-boundary rule actually cuts (mean ≪ doc length)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["cdc_chunk_dedup_docs"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_distinct <= r.n_chunks
        assert 0.0 <= r.dup_share < 1.0
        assert r.mean_chunk_tokens >= 1.0
    # boundary rule fires: average chunk is far shorter than a document
    d = spark.read.parquet(f"{SF}/documents.parquet")
    mean_doc_tokens = (
        d.select(F.avg(F.size(F.split(F.lower("text"), " ")))).collect()[0][0]
    )
    assert max(r.mean_chunk_tokens for r in rows) < mean_doc_tokens / 2


# --------------------------------------------------------------------------
# wave 21 — ECOD / TextRank


def test_ecod_scores_bounded_and_ordered(spark):
    """Scores are positive, ordered desc, and ≤ 8·ln(n) + ε (the
    per-dim tail probability is ≥ 1/n, so each −ln term ≤ ln n)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["ecod_outliers_embeddings"](spark, SF).collect()
    assert len(rows) == 25
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    cap = 8 * math.log(n) + 1e-3
    scores = [r.ecod_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0 < s <= cap for s in scores)


def test_textrank_scores_positive_descending(spark):
    """Top-15 keywords: positive scores ≤ 1, descending, distinct
    words; (1−d)/n floor holds for every returned node."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["textrank_keywords_docs"](spark, SF).collect()
    assert len(rows) == 15
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len({r.word for r in rows}) == 15
    assert all(0 < s < 1 for s in scores)
