"""Sequence packing, decontamination, deterministic shuffle,
repetition stats — the round-3 training-data operators."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.dedup import decontaminate
from imdb_metacritic_data_warehouse_spark.operators.packing import (
    deterministic_shuffle,
    global_cumsum,
    pack_sequences,
)
from imdb_metacritic_data_warehouse_spark.operators.text import repetition_stats


def test_global_cumsum_matches_single_task_window(spark):
    df = spark.range(1, 501).select(
        F.col("id"), (F.col("id") % 17 + 1).alias("v")
    )
    two = {
        r["id"]: r["cs"]
        for r in global_cumsum(df, [F.col("id")], "v", "cs").collect()
    }
    # reference: the single-task unbounded-preceding window
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    one = {
        r["id"]: r["cs"]
        for r in df.withColumn("cs", F.sum("v").over(w)).collect()
    }
    assert two == one


def test_pack_sequences_straddle_and_budget_invariants(spark):
    # doc 1: 100 tokens [0,100); doc 2: 60 tokens [100,160) → straddles
    # the budget-128 boundary; doc 3: 200 tokens [160,360) → spans 3
    # sequences (1..2 fully, tail in 2)
    rows = [(1, 100), (2, 60), (3, 200), (4, 0)]
    df = spark.createDataFrame(rows, "doc_id int, n int")
    out = pack_sequences(df, "doc_id", "n", budget=128).collect()
    got = {(r.doc_id, r.seq_id): (r.tokens_in_seq, r.starts_here) for r in out}
    assert got == {
        (1, 0): (100, True),
        (2, 0): (28, True),
        (2, 1): (32, False),
        (3, 1): (96, True),
        (3, 2): (104, False),
    }
    # invariants: per-doc token totals preserved; no sequence over budget
    per_doc = {}
    per_seq = {}
    for (d, s), (t, _) in got.items():
        per_doc[d] = per_doc.get(d, 0) + t
        per_seq[s] = per_seq.get(s, 0) + t
    assert per_doc == {1: 100, 2: 60, 3: 200}  # zero-token doc dropped
    assert all(t <= 128 for t in per_seq.values())
    # every sequence except the last is exactly full
    assert per_seq[0] == 128 and per_seq[1] == 128


def test_deterministic_shuffle_is_salted_permutation(spark):
    df = spark.range(1, 301).select(F.col("id"))
    a = deterministic_shuffle(df, "id", "s1")
    positions = [r.pos for r in a.collect()]
    assert sorted(positions) == list(range(1, 301))  # a permutation
    # same salt → identical; different salt → different order
    a2 = {r.id: r.pos for r in deterministic_shuffle(df, "id", "s1").collect()}
    b = {r.id: r.pos for r in deterministic_shuffle(df, "id", "s2").collect()}
    a1 = {r.id: r.pos for r in a.collect()}
    assert a1 == a2
    assert a1 != b


def test_decontaminate_catches_normalized_leaks_only(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "an original document"),
            (3, "another   clean doc"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [("THE  QUICK   BROWN FOX ",), ("unrelated eval question",)],
        "text string",
    )
    kept = sorted(
        r.doc_id for r in decontaminate(corpus, bench, "doc_id", "text").collect()
    )
    assert kept == [2, 3]  # doc 1 leaks despite case/whitespace mutation


def test_repetition_stats_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),  # 2-gram "buy now" ×4 of 7
            (2, "all words here are fully distinct tokens"),
            (3, "tiny"),  # < 2 words → single whole-text shingle
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].max_gram_count == 4 and out[1].n_grams == 7
    assert out[2].max_gram_count == 1
    assert out[3].n_grams == 1 and out[3].repetition_ratio == 1.0
    assert out[1].repetition_ratio > out[2].repetition_ratio


def test_pack_sequences_property_invariants(spark):
    """Property check over a randomized-but-seeded corpus: every
    sequence holds ≤ budget tokens, every sequence except the last is
    exactly full (concat-and-cut leaves no internal gaps), per-doc
    token totals are preserved, and each doc starts in exactly one
    sequence."""
    import random

    rng = random.Random(42)
    rows = [(i, rng.randint(1, 300)) for i in range(1, 400)]
    budget = 257
    df = spark.createDataFrame(rows, "doc_id int, n int")
    out = pack_sequences(df, "doc_id", "n", budget=budget).collect()

    per_seq, per_doc, starts = {}, {}, {}
    for r in out:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.tokens_in_seq
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tokens_in_seq
        starts[r.doc_id] = starts.get(r.doc_id, 0) + int(r.starts_here)
        assert r.tokens_in_seq > 0
    assert per_doc == dict(rows)
    assert all(v == 1 for v in starts.values())
    last = max(per_seq)
    assert all(per_seq[s] == budget for s in per_seq if s != last)
    assert 0 < per_seq[last] <= budget
    assert set(per_seq) == set(range(last + 1))  # contiguous sequence ids


def test_new_operators_handle_empty_inputs(spark):
    """Empty corpus / empty benchmark / empty history must produce
    empty (or full) results, not errors — the degenerate inputs every
    scheduled pipeline eventually feeds its operators."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from imdb_metacritic_data_warehouse_spark.operators.snapshots import pit_join

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")

    assert pack_sequences(empty_docs.select("doc_id", F.lit(1).alias("n")),
                          "doc_id", "n", 128).count() == 0
    assert deterministic_shuffle(empty_docs, "doc_id", "s").count() == 0
    assert lsh_candidate_pairs(empty_docs, "doc_id", "text").count() == 0
    assert repetition_stats(empty_docs).count() == 0
    # empty benchmark: nothing is contaminated
    assert decontaminate(docs, empty_docs, "doc_id", "text").count() == 1
    # empty corpus against a benchmark: nothing survives, nothing errors
    assert decontaminate(empty_docs, docs, "doc_id", "text").count() == 0
    # empty history: inner pit drops all probes, left keeps them
    hist = spark.createDataFrame(
        [], "pk int, v string, valid_from timestamp, valid_to timestamp"
    )
    probes = spark.createDataFrame([(1,)], "pk int").select(
        "pk", F.lit("2024-01-15").cast("timestamp").alias("ts")
    )
    assert pit_join(probes, hist, "pk", "ts").count() == 0
    assert pit_join(probes, hist, "pk", "ts", how="left").count() == 1


def test_chunk_documents_overlap_invariants(spark):
    from imdb_metacritic_data_warehouse_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 words, 2 chunks
            (2, "short doc"),                            # < size → 1 chunk
            (3, " ".join(f"x{i}" for i in range(8))),   # exactly size → 1 chunk
        ],
        "doc_id int, text string",
    )
    out = {(r.doc_id, r.chunk_id): r for r in
           chunk_documents(docs, chunk_size=8, stride=4).collect()}
    assert {(d, c) for d, c in out} == {(1, 0), (1, 1), (2, 0), (3, 0)}
    c0, c1 = out[(1, 0)], out[(1, 1)]
    assert c0.n_words == 8 and c0.chunk_text.startswith("w0 ")
    assert c1.n_words == 6 and c1.chunk_text.startswith("w4 ")  # overlap of 4
    # overlap region identical in both chunks
    assert c0.chunk_text.split()[4:] == c1.chunk_text.split()[:4]
    assert out[(2, 0)].n_words == 2
    assert out[(3, 0)].n_words == 8
    # every word of doc 1 appears in at least one chunk
    covered = set(c0.chunk_text.split()) | set(c1.chunk_text.split())
    assert covered == {f"w{i}" for i in range(10)}
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=8, stride=0)


def test_token_budget_selection_takes_best_first(spark):
    """Budget selection keeps the quality-DESC prefix whose cumulative
    tokens fit; a lower-quality doc only enters if everything better
    already fit."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.packing import global_cumsum

    rows = [
        (1, 10, 0.9),
        (2, 10, 0.8),
        (3, 10, 0.7),
        (4, 10, 0.6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int, q double")
    out = global_cumsum(
        df, [F.desc("q"), F.asc("doc_id")], "n_tok", out_col="cum"
    ).filter(F.col("cum") <= 25)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 2]  # 0.9 and 0.8 fit; 0.7 would cross the budget


def test_global_cumsum_total_is_exact_under_reexecution(spark):
    """Regression: repartitionByRange samples its range bounds with an
    RDD-id-derived seed, so when the local-cumsum branch and the
    offsets branch each re-executed the exchange they could disagree
    about which partition a boundary row landed in — the final prefix
    sum came out off by a few (observed: 6801 of 6800 on the
    ks_drift_orders ECDF at sf0.01).  The persist() in global_cumsum
    pins ONE execution for both branches; this asserts the invariant
    the bug broke: last prefix sum == exact total, even when the input
    is itself an unmaterialized shuffled aggregate and the cumsum is
    stacked twice.
    """
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.packing import (
        global_cumsum,
    )

    base = (
        spark.range(20000)
        .select((F.col("id") * 37 % 15013).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("a"), F.lit(1).alias("b"))
    )
    c = global_cumsum(base, [F.col("v").asc()], "a", out_col="ca")
    c = global_cumsum(c, [F.col("v").asc()], "b", out_col="cb")
    last = c.orderBy(F.desc("v")).limit(1).collect()[0]
    totals = base.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb")).collect()[0]
    assert last["ca"] == totals["ta"]
    assert last["cb"] == totals["tb"]
