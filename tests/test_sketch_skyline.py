"""Unit tests for the count-min sketch, the sort-based skyline, and
bounded-hop BFS — hand-sized inputs with independently computed
expectations, plus the CMS never-undercounts invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.graph import (
    bfs_distances,
    undirected_edges,
)
from imdb_metacritic_data_warehouse_spark.operators.sketch import (
    cms_estimate,
    count_min_sketch,
)
from imdb_metacritic_data_warehouse_spark.operators.skyline import (
    pareto_frontier_2d,
    strict_prefix_max,
)


def test_cms_never_undercounts_and_exact_when_wide(spark):
    rows = [(k,) for k in [1] * 10 + [2] * 5 + [3] * 2 + [4]]
    df = spark.createDataFrame(rows, "k long")
    keys = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    # Tight grid: collisions certain (4 keys, width 2) — estimates must
    # still never fall below the true counts.
    sk = count_min_sketch(df, F.col("k"), depth=2, width=2)
    est = cms_estimate(sk, keys, "k", depth=2, width=2).collect()
    assert all(r["est"] >= r["n"] for r in est)

    # Wide grid: with 4 keys in 1024 buckets × 3 rows, at least one
    # row of the sketch is collision-free per key with overwhelming
    # probability for this FIXED hash (deterministic md5 buckets —
    # verified by this very assertion), so the min is exact.
    sk = count_min_sketch(df, F.col("k"), depth=3, width=1024)
    est = cms_estimate(sk, keys, "k", depth=3, width=1024).collect()
    assert all(r["est"] == r["n"] for r in est)


def test_cms_total_mass_per_row(spark):
    """Each sketch row partitions the stream: its counters sum to N."""
    df = spark.range(100).select((F.col("id") % 7).alias("k"))
    sk = count_min_sketch(df, F.col("k"), depth=3, width=8)
    per_seed = sk.groupBy("seed").agg(F.sum("cnt").alias("total")).collect()
    assert len(per_seed) == 3
    assert all(r["total"] == 100 for r in per_seed)


def test_strict_prefix_max_matches_naive(spark):
    rows = [(i, v) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3])]
    df = spark.createDataFrame(rows, "i int, v int")
    got = {
        r["i"]: r["pm"]
        for r in strict_prefix_max(
            df, [F.col("i").asc()], "v", out_col="pm", num_partitions=3
        ).collect()
    }
    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    for i in range(10):
        expect = max(vals[:i]) if i else None
        assert got[i] == expect, (i, got[i], expect)


def test_pareto_frontier_hand_case(spark):
    # (cost, gain): frontier = minimal cost for each reachable gain level.
    rows = [
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # duplicate of 1 -> both survive
        (3, 12.0, 5),   # dominated by 1 (same gain, higher cost)
        (4, 12.0, 7),   # frontier (more gain than anything cheaper)
        (5, 15.0, 7),   # dominated by 4
        (6, 15.0, 9),   # frontier
        (7, 20.0, 9),   # dominated by 6
        (8, 20.0, 1),   # dominated by everything cheaper with gain>=1
    ]
    df = spark.createDataFrame(rows, "id int, cost double, gain int")
    got = sorted(
        r["id"] for r in pareto_frontier_2d(df, "cost", "gain").collect()
    )
    assert got == [1, 2, 4, 6]


def test_bfs_distances_path_graph(spark):
    # 1-2-3-4-5 path, seeds={1}: dist = node-1, capped at 3 hops.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "pa long, pb long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            undirected_edges(pairs, "pa", "pb"), seeds, max_hops=3
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond the hop bound


def test_bfs_min_dist_on_cycle(spark):
    # Triangle 1-2-3 plus tail 3-4: shortest paths, not first-found.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "pa long, pb long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            undirected_edges(pairs, "pa", "pb"), seeds, max_hops=3
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bigram_logprob_hand_case(spark):
    from imdb_metacritic_data_warehouse_spark.operators.text import bigram_logprob

    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "x")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    # doc 3 has a single token -> no bigrams -> absent
    assert set(rows) == {1, 2}
    # corpus bigrams: (a,b)x2, (b,a)x1, (a,a)x1; contexts: a->3, b->1; V=3
    # p(b|a)=(2+1)/(3+3)=0.5  p(a|b)=(1+1)/(1+3)=0.5  p(a|a)=(1+1)/(3+3)=1/3
    assert rows[1]["n_bigrams"] == 3
    expect1 = round(-(math.log(0.5) * 2 + math.log(0.5)) / 3, 6)
    assert abs(rows[1]["avg_neg_logprob"] - expect1) < 1e-9
    expect2 = round(-math.log(1 / 3), 6)
    assert rows[2]["n_bigrams"] == 1
    assert abs(rows[2]["avg_neg_logprob"] - expect2) < 1e-9


def test_hazard_table_invariants(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["hazard_table_users"](spark, sf_dir).collect()
    assert rows, "spine must not be empty"
    # at-risk never negative, hazard in [0,1], churned <= at_risk
    for r in rows:
        assert r["at_risk"] >= 0
        assert 0 <= r["churned"] <= max(r["at_risk"], 0)
        if r["at_risk"] > 0:
            assert 0.0 <= r["hazard"] <= 1.0
    # everyone eventually lapses: total churned == distinct users
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert sum(r["churned"] for r in rows) == n_users


def test_bpe_encode_consistent_with_training(spark):
    """Encode/train agreement: summing the per-word token counts over
    the word-frequency table must equal the total symbol mass of the
    trained inventory (both read the same merged symbol table)."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.text import (
        bpe_train_symbols,
        bpe_word_token_counts,
        tokens,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer lowest low")],
        "doc_id long, text string",
    )
    inv_mass = (
        bpe_train_symbols(docs)
        .agg(F.sum("cnt").alias("m")).collect()[0]["m"]
    )
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    enc_mass = (
        bpe_word_token_counts(docs, merges=2)
        .join(wc, "w")
        .agg(F.sum(F.col("n_sym") * F.col("c")).alias("m"))
        .collect()[0]["m"]
    )
    assert enc_mass == inv_mass
    # merges strictly compress: every word's token count <= its length
    rows = bpe_word_token_counts(docs, merges=2).collect()
    assert all(r["n_sym"] >= 1 for r in rows)


def test_cms_join_size_never_underestimates(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["cms_join_size_audit"](spark, sf_dir).collect()[0]
    assert r["overcount"] >= 0
    assert r["cms_estimate"] >= r["exact_join_size"]


def test_bloom_prune_no_false_negatives(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["bloom_prune_audit"](spark, sf_dir).collect()[0]
    # every true match must be a candidate
    assert r["n_candidates"] >= r["n_true"]
    assert r["n_false_pos"] == r["n_candidates"] - r["n_true"]


def test_weighted_median_hand_case(spark):
    from imdb_metacritic_data_warehouse_spark.operators.percentile import (
        weighted_median_grouped,
    )

    rows = [
        # group a: values 1(w1), 2(w1), 3(w10) -> half of 12 is 6,
        # first value with cumw >= 6 is 3
        ("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 10),
        # group b: 5(w2), 7(w2) -> half of 4 is 2, crossing at 5
        ("b", 5.0, 2), ("b", 7.0, 2),
        # group c: single row
        ("c", 9.0, 3),
        # NULL key: a group of its own, like F.percentile's;
        # 1(w2), 3(w1) -> half of 3 is 1.5, crossing at 1
        (None, 1.0, 2), (None, 3.0, 1),
    ]
    df = spark.createDataFrame(rows, "k string, v double, w int")
    got = {
        r["k"]: (r["total_weight"], r["weighted_median"])
        for r in weighted_median_grouped(df, ["k"], "v", "w").collect()
    }
    assert got == {"a": (12, 3.0), "b": (4, 5.0), "c": (3, 9.0), None: (3, 1.0)}


def test_personalized_pagerank_localizes_mass(spark):
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.graph import (
        personalized_pagerank,
        undirected_edges,
    )

    # two disconnected triangles; seed in the first -> second gets 0
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "pa long, pb long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ranks = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(
            undirected_edges(pairs, "pa", "pb"), seeds
        ).collect()
    }
    assert all(ranks[n] == 0.0 for n in (10, 11, 12))
    assert ranks[1] > ranks[2] > 0 and abs(ranks[2] - ranks[3]) < 1e-15
    # mass conservation on the seed component
    assert abs(sum(ranks[n] for n in (1, 2, 3)) - 1.0) < 1e-9


def test_target_encode_loo_hand_case(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    import os
    import tempfile

    # category x: targets 10, 20, 30 -> LOO means 25, 20, 15;
    # category y: singleton -> NULL
    rows = [
        (1, 101, "O", 10.0, "2024-01-01", "x"),
        (2, 102, "O", 20.0, "2024-01-02", "x"),
        (3, 103, "O", 30.0, "2024-01-03", "x"),
        (4, 104, "O", 99.0, "2024-01-04", "y"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "orders.parquet"))
        got = {
            r["o_orderkey"]: r["loo_mean_price"]
            for r in QUERIES["target_encode_loo_orders"](spark, tmp).collect()
        }
    assert got == {1: 25.0, 2: 20.0, 3: 15.0, 4: None}


def test_quantile_transform_is_two_phase_and_uniform(spark, sf_dir):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    from imdb_metacritic_data_warehouse_spark.operators.materialize import plan_only

    with plan_only():  # the whole operator tree, range exchange included
        tree = QUERIES["quantile_transform_docs"](spark, sf_dir)
    plan = tree._jdf.queryExecution().executedPlan().toString()
    df = QUERIES["quantile_transform_docs"](spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()  # never a one-task rank
    assert "Scan ExistingRDD" in executed  # the one-execution pin
    rows = df.collect()
    pcts = sorted(r["pct"] for r in rows)
    n = len(rows)
    # exact uniform grid: (i - 0.5) / n for i = 1..n
    assert pcts[0] == round(0.5 / n, 6) and pcts[-1] == round((n - 0.5) / n, 6)
    assert len(set(pcts)) == n


def test_run_length_stats_hand_case(spark):
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.profile import (
        run_length_stats_multi,
    )

    # order by i: values A A B B B A NULL NULL A -> runs = 5
    vals = ["A", "A", "B", "B", "B", "A", None, None, "A"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, v string"
    )
    r = run_length_stats_multi(df, [F.col("i").asc()], ["v"], num_partitions=4).collect()[0]
    assert (r["n"], r["runs"]) == (9, 5)

    # single run across many partitions (boundaries must NOT split it)
    df2 = spark.range(1000).select(F.col("id").alias("i"), F.lit("x").alias("v"))
    r2 = run_length_stats_multi(df2, [F.col("i").asc()], ["v"], num_partitions=8).collect()[0]
    assert (r2["n"], r2["runs"]) == (1000, 1)

    # alternating values: every row its own run
    df3 = spark.range(100).select(
        F.col("id").alias("i"), (F.col("id") % 2).cast("string").alias("v")
    )
    r3 = run_length_stats_multi(df3, [F.col("i").asc()], ["v"], num_partitions=8).collect()[0]
    assert (r3["n"], r3["runs"]) == (100, 100)

    # value and NULL alternating: a partition that starts with NULL
    # still starts a new run
    df4 = spark.range(100).select(
        F.col("id").alias("i"), F.when(F.col("id") % 2 == 0, "x").alias("v")
    )
    r4 = run_length_stats_multi(df4, [F.col("i").asc()], ["v"], num_partitions=8).collect()[0]
    assert (r4["n"], r4["runs"]) == (100, 100)


def test_run_length_stats_multi_matches_single(spark):
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.profile import (
        run_length_stats_multi,
    )

    df = spark.range(500).select(
        F.col("id").alias("i"),
        (F.col("id") % 7).cast("string").alias("a"),
        (F.col("id") / 100).cast("int").cast("string").alias("b"),
    )
    multi = {
        r["col_name"]: (r["n"], r["runs"])
        for r in run_length_stats_multi(
            df, [F.col("i").asc()], ["a", "b"], num_partitions=6
        ).collect()
    }
    for c in ["a", "b"]:
        single = run_length_stats_multi(
            df, [F.col("i").asc()], [c], num_partitions=6
        ).collect()[0]
        assert single["col_name"] == c
        assert multi[c] == (single["n"], single["runs"]), c
