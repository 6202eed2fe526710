"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests prove WHAT is computed; these prove HOW: filters
reach the parquet scan, projections prune columns, dimension joins
broadcast, the global rank never funnels the data through one task,
and salted aggregation really is two-phase.  A regression here is a
scale bug even when results stay right.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plans(build) -> tuple[str, str]:
    """(plan of ``build()`` under ``plan_only()``, its executed plan).
    The first is the whole operator tree; in the second each eager
    materialization, such as a two-phase primitive's range exchange,
    reads back as a ``Scan ExistingRDD``."""
    from imdb_metacritic_data_warehouse_spark.operators.materialize import plan_only

    with plan_only():
        tree = _plan(build())
    return tree, _plan(build())


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(lineitem):
    df = lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # the scan must read exactly the projected columns, not all 16
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan
    assert "l_comment" not in plan


def test_dimension_joins_broadcast(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q5_revenue_per_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact-side scan must not read unused columns
    assert "l_comment" not in plan


def test_global_rank_is_two_phase(spark):
    from imdb_metacritic_data_warehouse_spark.operators.rank import global_row_number

    df = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    plan, executed = _plans(
        lambda: global_row_number(df, [F.desc("s_acctbal"), F.asc("s_suppkey")])
    )
    # data flows through a range repartition, never a global
    # single-partition sort window over the full input
    assert "rangepartitioning" in plan.lower()
    # the only SinglePartition exchange allowed is the tiny per-partition
    # offset aggregate (one row per partition), which is then broadcast
    assert "BroadcastExchange" in plan
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_salted_agg_is_two_phase(spark):
    from imdb_metacritic_data_warehouse_spark.operators.skew import salted_agg

    df = spark.range(100).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    out = salted_agg(
        df,
        keys=["k"],
        partial_aggs={"__n": F.count(F.lit(1)), "__s": F.sum("v")},
        final_aggs={"n": F.sum("__n"), "s": F.sum("__s")},
        salt_col="v",
        salt_buckets=4,
    )
    plan = _plan(out)
    # two shuffles: (k, salt) then (k)
    assert plan.lower().count("exchange hashpartitioning") >= 2
    rows = {r.k: (r.n, r.s) for r in out.collect()}
    assert rows[0] == (34, 1683)  # 0,3,...,99
    assert rows[1][0] + rows[2][0] == 66


def test_scd2_merge_single_shuffle_join(spark):
    """The SCD2 merge must be ONE full-outer join (close-out + insert in
    a single pass), not separate join branches per outcome."""
    from imdb_metacritic_data_warehouse_spark.operators.scd2 import scd2_apply

    b1 = spark.range(100).select(F.col("id").alias("pk"), F.lit("a").alias("x"))
    b2 = spark.range(50, 150).select(F.col("id").alias("pk"), F.lit("b").alias("x"))
    s1 = scd2_apply(None, b1, "pk", ["x"], "2024-01-01 00:00:00")
    s2 = scd2_apply(s1, b2, "pk", ["x"], "2024-02-01 00:00:00")
    plan = _plan(s2)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    from imdb_metacritic_data_warehouse_spark.sources.bucketed import write_bucketed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS bucket_test")
    write_bucketed(li, "bucket_test.li_b", "l_orderkey", num_buckets=8)
    write_bucketed(o, "bucket_test.o_b", "l_orderkey", num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucket_test.li_b").join(
            spark.table("bucket_test.o_b"), "l_orderkey"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # groupBy on the bucket key is shuffle-free too
        agg_plan = _plan(
            spark.table("bucket_test.li_b").groupBy("l_orderkey").count()
        )
        assert "Exchange hashpartitioning" not in agg_plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE bucket_test CASCADE")


def test_bucketed_scd2_tables_join_without_shuffle(spark, tmp_path):
    """Two SCD2 tables kept in bucketed versioned storage on the same
    key: the merge rewrite preserves the bucket layout on every new
    version, and their join needs no Exchange on either side."""
    from imdb_metacritic_data_warehouse_spark.operators.scd2 import scd2_apply
    from imdb_metacritic_data_warehouse_spark.sources.bucketed import (
        BucketedVersionedTable,
    )

    link = BucketedVersionedTable(
        spark, "bkt_scd2", "link", "link_id", 8, pointer_root=str(tmp_path)
    )
    sat = BucketedVersionedTable(
        spark, "bkt_scd2", "sat", "link_id", 8, pointer_root=str(tmp_path)
    )
    try:
        b1 = spark.range(200).select(
            F.md5(F.col("id").cast("string")).alias("link_id"),
            F.lit("m").alias("mv"),
        )
        s1 = spark.range(200).select(
            F.md5(F.col("id").cast("string")).alias("link_id"),
            F.lit("actor").alias("role"),
        )
        link.write(scd2_apply(None, b1, "link_id", ["mv"], "2024-01-01 00:00:00"))
        sat.write(scd2_apply(None, s1, "link_id", ["role"], "2024-01-01 00:00:00"))
        # second batch: changed rows → merge rewrite, still bucketed
        s2 = s1.withColumn(
            "role",
            F.when(F.substring("link_id", 1, 1) == "a", F.lit("writer")).otherwise(
                F.col("role")
            ),
        )
        sat.write(
            scd2_apply(sat.read(), s2, "link_id", ["role"], "2024-02-01 00:00:00")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = link.read().join(sat.read(), "link_id")
            plan = _plan(joined)
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() >= 200
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt_scd2 CASCADE")


def test_q3_bounded_topk_and_pushdown(spark):
    """Q3 shape: no global sort (TakeOrderedAndProject bounds the top-k)
    and the selective filters reach all three parquet scans."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # top-k must not globally sort
    assert "(c_mktsegment" in plan and "= BUILDING" in plan
    assert "(o_orderdate" in plan and "(l_shipdate" in plan


def test_q6_scan_predicates_pushed(spark):
    """Q6 shape: every predicate is a DataFilter on the one scan; the
    scan reads only the 4 referenced columns."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q6_forecast_revenue"](spark, SF_DIR))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"isnotnull({col}" in plan
    assert "l_orderkey" not in plan  # pruned
    assert "PushedFilters: [" in plan


def test_q18_single_fact_scan(spark):
    """Q18 shape: the HAVING aggregate itself carries the quantity sum,
    so lineitem must be scanned and aggregated exactly ONCE — the
    literal TPC-H formulation (semi-join + re-aggregation) scans the
    fact twice for values the first aggregate already produced
    (measured 3× at sf0.1)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q18_large_orders"](spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" not in plan


def test_connected_components_lineage_is_bounded(spark):
    """Iterative min-label propagation must checkpoint per round: the
    final plan depends on the checkpointed RDD, not on a join tree that
    grows with iteration count."""
    from imdb_metacritic_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )  # a path graph: worst-case diameter for label propagation
    out = connected_components(pairs)
    plan = _plan(out)
    assert "Scan ExistingRDD" in plan  # checkpoint cut the lineage
    assert plan.count("Join") <= 1
    assert {r.cluster for r in out.collect()} == {1}


def test_q21_decorrelates_to_semi_and_anti_joins(spark):
    """Q21's EXISTS / NOT EXISTS self-correlates must plan as one
    left-semi + one left-anti equi-join on l_orderkey — never a
    cartesian/broadcast-nested-loop over the fact."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q21_waiting_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q16_anti_join_broadcasts_blacklist(spark):
    """The NOT-IN supplier blacklist is dimension-sized: the anti-join
    must broadcast it rather than shuffling the fact."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q16_supplier_count_distinct"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q11_threshold_is_broadcast_scalar(spark):
    """The share-of-total threshold joins as a broadcast one-row
    aggregate — no driver collect, no cartesian blow-up."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q11_important_suppliers"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_splits_hot_keys(spark):
    """With broadcast disabled (the big-big case salting exists for),
    the join must be a shuffle join keyed on (event_type, __salt) —
    each hot key spread over salt_buckets reducers — and the dim side
    must carry the salt-replicating explode."""
    from imdb_metacritic_data_warehouse_spark.operators.skew import salted_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        dim = e.select("event_type").distinct().withColumn(
            "code", F.md5("event_type")
        )
        joined = salted_join(e, dim, ["event_type"], salt_col="event_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "__salt" in plan
        assert "Generate explode" in plan or "explode" in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Silver/gold tables partitioned by a query key (SCALE.md layout)
    must get runtime partition pruning when joined against a filtered
    dimension: the fact scan's partition filters carry a dynamicpruning
    subquery instead of reading every partition."""
    fact_path = str(tmp_path / "orders_part")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .write.partitionBy("o_orderstatus")
        .mode("overwrite")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    # the dim filter is on a NON-join column, so the surviving join-key
    # values are unknowable statically — only runtime pruning can skip
    # fact partitions (a literal filter on the key itself would be
    # propagated by static constraint propagation instead)
    dim = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderstatus")
        .distinct()
    )
    joined = fact.join(dim, "o_orderstatus").groupBy("o_orderstatus").count()
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower()


def test_text_analysis_is_hash_aggregate(spark):
    """The per-token analysis must stay in HashAggregate: carrying text
    as a first() AGGREGATE (not a group key) puts a string in the
    buffer and forces the SortAggregate fallback — a sort of the whole
    token stream (round-3 regression guard)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["text_analysis"](spark, SF_DIR))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    # interpreted higher-order functions must stay out of the hot path
    assert "aggregate(" not in plan.lower().replace("hashaggregate", "").replace(
        "sortaggregate", ""
    )


def test_lsh_pairs_band_table_materialized_once(spark):
    """lsh_candidate_pairs must read the band table from ONE
    materialized checkpoint (both emission paths + the size window),
    not re-run the shingle→minhash pipeline per branch: exactly one
    shingle explode may appear in the executed plan."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["minhash_lsh_pairs"](spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 1  # the checkpointed band table
    # the upstream pipeline ran during checkpointing, so the final plan
    # contains no shingle/window machinery at all
    assert "posexplode" not in plan


def test_lsh_pairs_routes_oversized_buckets_to_join(spark):
    """With a tiny cap every bucket takes the self-join path and the
    pair set must be identical to the collect_list path's."""
    from imdb_metacritic_data_warehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "common boilerplate text shared by every doc") for i in range(8)]
        + [(100 + i, f"unique document number {i} with its own words") for i in range(4)],
        "doc_id long, text string",
    )
    small_cap = lsh_candidate_pairs(docs, "doc_id", "text", bucket_cap=2)
    big_cap = lsh_candidate_pairs(docs, "doc_id", "text", bucket_cap=1024)
    a = {(r.doc_a, r.doc_b) for r in small_cap.collect()}
    b = {(r.doc_a, r.doc_b) for r in big_cap.collect()}
    assert a == b
    # the 8 identical docs form one bucket → all 28 pairs found
    assert {(i, j) for i in range(8) for j in range(i + 1, 8)} <= a


def test_pack_sequences_cumsum_is_two_phase(spark):
    """The packing cumsum must not funnel the table through a single
    task: no Window over an empty partition spec on the data path (the
    per-partition offsets window touches one row per partition and is
    the only SinglePartition stage)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["pack_sequences_budget"](spark, SF_DIR))
    assert "rangepartitioning" in plan  # phase 1: range repartition
    assert "SPARK_PARTITION_ID()" in plan  # phase 2: local windows + offsets
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_bm25_single_broadcast_no_explode(spark):
    """BM25's global stats ride ONE single-row broadcast; per-doc term
    frequencies are codegen array_remove deltas — no token explode, no
    shuffle of the document side at all."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["bm25_docs"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Generate explode" not in plan
    # the corpus side shuffles only for its own single-row aggregate,
    # never for a per-token generate
    assert plan.count("Exchange hashpartitioning") == 0


def test_balanced_resample_broadcasts_rates(spark):
    """The per-stratum rate table is tiny by construction — it must
    broadcast back onto the corpus, never shuffle the corpus side."""
    from imdb_metacritic_data_warehouse_spark.operators.sampling import (
        balanced_resample,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(balanced_resample(d, "doc_id", "lang"))
    assert "BroadcastHashJoin" in plan
    # corpus side: scan → broadcast-join → filter, no hash exchange
    # before the join (the only exchanges feed the rate aggregate)
    assert "SortMergeJoin" not in plan


def test_centroid_outliers_broadcasts_centroids(spark):
    """Centroid table is |labels| rows — the per-vector cosine join
    must be a broadcast, and the outlier rank windows by label (never
    a global single-partition window)."""
    from imdb_metacritic_data_warehouse_spark.operators.similarity import (
        centroid_outliers,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(centroid_outliers(e))
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan and "SinglePartition" not in plan.split("Window")[1][:200]


def test_q17_preaggregate_broadcasts_back(spark):
    """The per-part quantity limit decorrelates into a pre-aggregate
    broadcast back onto the fact — no correlated re-scan, no
    sort-merge on the fact side."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q17_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_graph_pair_dedup_is_id_only(spark):
    """knn_graph's collision join + pair dedup must NOT carry the
    embedding arrays — the dedup exchange ships bare (src, dst) ids and
    the vectors join back only for scoring (round-3 rewrite guard:
    carrying 2×64 doubles through those shuffles was a 6× slowdown and
    a corpus-sized re-shuffle at scale)."""
    from imdb_metacritic_data_warehouse_spark.operators.similarity import knn_graph

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(knn_graph(e, k=3, n_planes=4, n_tables=2))
    # the dedup aggregate groups exactly on the bare id pair
    import re

    m = re.search(r"HashAggregate\(keys=\[src#\d+L, dst#\d+L\]", plan)
    assert m, f"expected id-only pair dedup aggregate in plan:\n{plan[:2000]}"
    # no exchange may ship an embedding/vector column
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "v#" not in line and "embedding#" not in line, line


def test_vocab_truncate_broadcasts_vocab(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["vocab_truncate_docs"](spark, SF_DIR))
    # the top-V vocab joins the token stream map-side, never a shuffle
    assert "BroadcastHashJoin" in plan


def test_winsorize_cutoffs_broadcast_back(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["winsorize_lineitem_prices"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # percentile cutoffs come from ONE array-fraction aggregate
    assert plan.count("percentile") <= 4  # partial+final, never per-quantile pairs


def test_pagerank_lineage_is_checkpoint_bounded(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    df = QUERIES["pagerank_parts_copurchase"](spark, SF_DIR)
    plan = _plan(df)
    # iterations consume materialized RDDs, not a 3x-unrolled join tree:
    # the final plan must reference checkpointed scans
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # and the co-occurrence build must not appear as a lineitem self-join
    assert plan.count("Scan parquet") <= 1


def test_jaccard_prefix_join_carries_hashes_not_strings(spark):
    from imdb_metacritic_data_warehouse_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = prefix_filter_jaccard_pairs(docs, "doc_id", "text", 60)
    plan = _plan(df)
    # verification joins run over the checkpointed hashed element table
    assert "ExistingRDD" in plan
    # the accept test is integer math, no float threshold anywhere
    assert "0.6" not in plan


_PLAN_ONLY_QUERIES = [
    "global_rank_leaderboard",
    "exact_percentiles",
    "pack_sequences_budget",
    "pipeline_employee_data",
    "pipeline_rating_slide",
    "triangle_counts_parts",
    "pagerank_parts_copurchase",
    "funnel_latency_percentiles",
]


@pytest.mark.parametrize("case", ["jaccard_prefix_join", *_PLAN_ONLY_QUERIES])
def test_plan_only_builds_the_whole_tree(spark, case):
    """Inside ``plan_only()`` every ``materialize`` is skipped: the plan
    shows the whole operator tree, with no ``ExistingRDD`` cut and no
    cached ``InMemoryRelation``.  The jaccard join builds without
    submitting a single Spark job."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from imdb_metacritic_data_warehouse_spark.operators.materialize import plan_only
    from tests.fixtures import spark_jobs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with plan_only(), spark_jobs(spark) as jobs:
        if case == "jaccard_prefix_join":
            df = prefix_filter_jaccard_pairs(docs, "doc_id", "text", 60)
            assert jobs() == set()
        else:
            df = QUERIES[case](spark, SF_DIR)
    plan = _plan(df)
    assert "ExistingRDD" not in plan
    assert "InMemoryRelation" not in plan
    assert "Scan parquet" in plan


def test_hard_negatives_broadcast_anchor_set(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["hard_negative_mining"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus side scans once
    assert plan.count("Scan parquet") <= 2


def test_dau_wau_has_no_range_join(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["dau_wau_stickiness"](spark, SF_DIR))
    # the 7-day window comes from a bounded explode + equi-join,
    # never a nested-loop range join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _window_nodes(plan: str) -> list[tuple[str, str]]:
    """(partition_spec, order_spec) for every Window node in an
    executedPlan string.  A Window line prints as
    ``Window [exprs], [partitionCols], [orderCols]`` (partition list
    empty/absent for a global window)."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow\b\s+\[.*?\],\s*\[(.*?)\],\s*\[(.*?)\]\s*$", line)
        if m:
            out.append((m.group(1), m.group(2)))
            continue
        # global window prints only [exprs], [orderCols]
        m = re.search(r"\bWindow\b\s+\[.*?\],\s*\[([^\[\]]*?)\]\s*$", line)
        if m:
            out.append(("", m.group(1)))
    return out


def test_hybrid_search_rrf_has_no_corpus_global_window(spark):
    """Round-3 scale-killer regression gate: every ranking in the RRF
    fusion must be the two-phase global_row_number — any window that is
    unpartitioned AND ordered on a corpus-sized key (bm25/cos/rrf)
    funnels the whole scored corpus through one task.  The only
    allowed unpartitioned windows are the per-partition offset
    prefix-sums (ordered on __pid, one row per partition)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["hybrid_search_rrf"](spark, SF_DIR))
    windows = _window_nodes(plan)
    assert windows, "expected Window nodes in the hybrid RRF plan"
    for part, order in windows:
        if part.strip():
            continue  # partitioned (per-pid local rank) — fine
        assert "__pid" in order, (
            f"unpartitioned corpus window (order: {order!r}) — "
            "use operators.rank.global_row_number"
        )
    # three two-phase ranks → three range exchanges feeding the local ranks
    assert plan.lower().count("rangepartitioning") >= 3
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_insert_only_merge_null_safe_anti_join_is_hashable(spark):
    """insert_only_merge anti-joins on eqNullSafe (<=>).  Spark treats
    <=> as an equi-key in current versions, but if a future version
    (or an added residual predicate) demoted it to a non-equi
    condition, the anti-join would silently become a
    BroadcastNestedLoop — O(n·m) at 100 TB.  Pin the shuffle-join
    execution with broadcast disabled."""
    from imdb_metacritic_data_warehouse_spark.operators.scd2 import insert_only_merge

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.range(1000).select(
            F.md5(F.col("id").cast("string")).alias("pk"), F.col("id").alias("v")
        )
        n = spark.range(500, 1500).select(
            F.md5(F.col("id").cast("string")).alias("pk"), F.col("id").alias("v")
        )
        plan = _plan(insert_only_merge(t, n, "pk", ["pk", "v"]))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_exact_percentiles_has_no_buffering_aggregate(spark):
    """exact_percentiles must use the two-phase rank formulation —
    F.percentile buffers every group value inside one aggregation
    buffer (OOM at 100 TB).  The plan must show the range exchange and
    no percentile() aggregate expression."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["exact_percentiles"](spark, SF_DIR))
    assert "percentile(" not in plan
    assert "rangepartitioning" in plan.lower()
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_tfidf_broadcasts_idf_and_partitions_rank(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["tfidf_topk_docs"](spark, SF_DIR))
    # vocabulary-sized idf/df table broadcast back to the tf stream
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only rank window is doc-partitioned — never a global sort
    for part, order in _window_nodes(plan):
        assert part.strip(), f"unpartitioned window in tfidf plan (order: {order!r})"


def test_triangle_counts_no_nested_loop(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["triangle_counts_parts"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # edge-iterator formulation: the closure is array_intersect in-task
    assert "array_intersect" in plan


def test_mad_outliers_has_no_buffering_percentile(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["mad_outliers_lineitem"](spark, SF_DIR))
    assert "percentile(" not in plan
    assert "rangepartitioning" in plan.lower()
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_pareto_skyline_is_two_phase(spark):
    from imdb_metacritic_data_warehouse_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    p = spark.read.parquet(f"{SF_DIR}/part.parquet")
    plan, executed = _plans(lambda: pareto_frontier_2d(p, "p_retailprice", "p_size"))
    # the strict-prefix running max range-partitions the tier table —
    # never a single-task window over the full input
    assert "rangepartitioning" in plan.lower()
    # the per-partition prefix maxes are broadcast back
    assert "BroadcastExchange" in plan
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_cms_sketch_combines_map_side(spark):
    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        count_min_sketch,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(count_min_sketch(e, F.col("user_id"), depth=3, width=64))
    low = plan.lower()
    # partial aggregation collapses the d-way fanout before the
    # exchange: the shuffle carries grid cells, not fact rows
    assert "partial_sum" in low
    assert low.count("hashaggregate") >= 2
    assert "exchange hashpartitioning" in low


def test_bfs_lineage_is_checkpoint_bounded(spark):
    from imdb_metacritic_data_warehouse_spark.operators.graph import (
        bfs_distances,
        undirected_edges,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "pa long, pb long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    dists = bfs_distances(undirected_edges(pairs, "pa", "pb"), seeds, max_hops=3)
    plan = _plan(dists)
    # rounds consume materialized frontiers, not a 3x-unrolled join tree
    assert "ExistingRDD" in plan


def test_zorder_audit_rank_is_two_phase(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["zorder_pruning_audit"](spark, SF_DIR))
    # file assignment rides the two-phase rank's range exchange
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastExchange" in plan
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_attribution_linear_collapses_clicks_before_join(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["attribution_linear_events"](spark, SF_DIR))
    low = plan.lower()
    # the click side must aggregate (user, ts, channel) BEFORE the
    # pairwise join — a hash aggregate keyed on click_ts must exist
    assert "hashaggregate" in low and "click_ts" in low
    # and the pairing is an equi-join, never a nested-loop range join
    assert "broadcastnestedloopjoin" not in low
    assert "cartesianproduct" not in low


def test_run_length_stats_no_global_window(spark):
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.profile import (
        run_length_stats_multi,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan, executed = _plans(
        lambda: run_length_stats_multi(
            li, [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()], ["l_returnflag"]
        )
    )
    # data flows through the range exchange; the only unpartitioned
    # window is over the partitions-sized per-pid table
    assert "rangepartitioning" in plan.lower()
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_weighted_median_no_buffering_aggregate(spark):
    from imdb_metacritic_data_warehouse_spark.operators.percentile import (
        weighted_median_grouped,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan, executed = _plans(
        lambda: weighted_median_grouped(
            li, ["l_returnflag"], "l_extendedprice", "l_quantity"
        )
    )
    low = plan.lower()
    assert "rangepartitioning" in low
    # never the value-buffering percentile aggregate
    assert "percentile" not in low
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_duplicate_payment_join_is_equi_not_bnlj(spark):
    """The 1%-amount-band self-join must hash/sort-merge on the custkey
    equi key with the band as a residual — a BroadcastNestedLoop over
    orders² is the scale failure this query exists to avoid."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["duplicate_payment_audit_orders"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """A month-window filter over the partitioned layout must reach the
    scan as PartitionFilters, not a post-scan filter over every file."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ym = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    path = str(tmp_path / "orders_by_month")
    o.select("o_orderkey", ym.alias("ym")).write.partitionBy("ym").parquet(path)
    back = spark.read.parquet(path).filter(F.col("ym").between(47, 49))
    plan = _plan(back)
    assert "PartitionFilters" in plan
    assert "ym" in plan.split("PartitionFilters")[1].split("]")[0]


def test_collocations_join_sides_are_aggregated(spark):
    """PMI assembly must join vocabulary-sized aggregates (bigram and
    unigram counts) — the token/pair explosion feeds ONE aggregation
    each, and the totals arrive as broadcast one-row frames, so no
    corpus-sized nested-loop appears anywhere."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["collocations_pmi_docs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the two scalar totals (token count, bigram count) broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_gram_cells_shuffle_is_cell_sized(spark):
    """The covariance grid's exchange must carry (i, j, sxy) cells only
    — never the exploded dim²·N rows a posexplode² rewrite would."""
    from imdb_metacritic_data_warehouse_spark.operators.similarity import (
        gram_upper_cells,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(gram_upper_cells(e))
    # partial aggregation happens before the exchange: HashAggregate
    # (partial) → Exchange → HashAggregate (final)
    assert plan.index("HashAggregate") < plan.index("Exchange")
    assert "Generate" not in plan  # no explode path anywhere


def test_jl_projection_is_map_only_and_audit_broadcasts(spark):
    """The JL projection must add NO exchange (pure per-row map), and
    the distortion audit must broadcast the anchor set."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.operators.similarity import jl_project

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    proj_plan = _plan(jl_project(emb))
    assert "Exchange" not in proj_plan
    audit_plan = _plan(QUERIES["jl_distortion_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in audit_plan or "BroadcastNestedLoopJoin" in audit_plan

def test_bootstrap_folds_replicates_map_side(spark):
    """Poisson bootstrap: the only wide exchange over replicated data
    is the 32-group hash aggregate, which must have a partial_ (map
    side) phase so the shuffle carries B rows per partition, not B·N
    rows."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["bootstrap_ci_lineitem"](spark, SF_DIR))
    low = plan.lower()
    assert "partial" in low  # map-side combine before the shuffle
    # sampling is hash-derived, never a Sample/rand() operator
    assert "sample" not in low
    assert "rand(" not in low

def test_pareto_head_cumsum_is_two_phase(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["pareto_head_parts"](spark, SF_DIR))
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastExchange" in plan
    assert "Scan ExistingRDD" in executed  # the one-execution pin

def test_trigram_window_is_partitioned(spark):
    """The trigram LEADs must run inside per-user window partitions —
    no single-partition global window anywhere in the plan."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["event_trigrams_users"](spark, SF_DIR))
    import re

    for m in re.finditer(r"Window \[(.*?)\]", plan):
        seg = m.group(0)
        assert "user_id" in seg or "__pid" in seg

def test_bitmap_distinct_aggregates_map_side(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["bitmap_distinct_audit"](spark, SF_DIR))
    assert "bitmap_construct_agg" in plan
    assert "partial" in plan.lower()


def test_hll_registers_aggregate_map_side(spark):
    """The HLL register build must partial-aggregate before its
    exchange (mergeable registers ⇒ ≤ groups·256 rows per task) and
    contain no explode/Generate anywhere."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["hll_distinct_audit"](spark, SF_DIR))
    assert "partial" in plan.lower()
    assert "Generate" not in plan


def test_label_propagation_no_cartesian(spark):
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["label_propagation_parts"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adamic_adar_seeded_and_no_cartesian(spark):
    """AA wedge generation must be SEED-bounded (the seed set
    broadcasts into the first hop — per-seed expansion ≈ d̄², never the
    global Σ C(deg,2); the all-pairs shape measured 45s at sf0.1) and
    stay an equi-join on the common neighbor, never a θ-join."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["adamic_adar_parts"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # seeds broadcast into the hop


def test_acf_series_joins_are_broadcast(spark):
    """The ACF lag self-join runs over the calendar-bounded daily
    series — both series sides must broadcast, never shuffle the
    corpus."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["acf_daily_revenue"](spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2


def test_simhash_banding_no_cartesian(spark):
    """The simhash candidate join must be an equi-join on (band, bval)
    buckets — never a cartesian/nested-loop all-pairs scan — and the
    signature build must stay a single hash aggregate (no per-bit row
    blowup beyond the one token explode)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["simhash_hamming_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heaps_law_no_global_rank(spark):
    """Checkpoints are VALUE-based (max_id·k/10) — the vocab-growth
    curve must not plan a global row_number/sort over the corpus; the
    only windows allowed are none at all."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["heaps_law_vocab_growth"](spark, SF_DIR))
    assert "Window" not in plan


def test_triplet_mining_anchors_broadcast(spark):
    """The 5 anchors must broadcast into the corpus scan — one pass,
    no corpus self-shuffle."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["triplet_mining_embeddings"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rolling_range_frame_over_aggregate(spark):
    """The RANGE frame must run over the per-(nation, day) AGGREGATE,
    partitioned by nation — never an unpartitioned window."""
    import re

    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["rolling_revenue_range_frame"](spark, SF_DIR))
    for m in re.finditer(r"Window \[(.*?)\]", plan):
        assert "nation" in m.group(0)


def test_gopher_filter_is_pure_aggregate(spark):
    """The rule battery is one explode + two hash aggregates — zero
    joins, zero windows: the whole filter must survive as map-side
    combinable aggregation at any corpus size."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["gopher_quality_filter_docs"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan


def test_boilerplate_removal_no_cartesian_no_window(spark):
    """Boilerplate removal is chunk-explode → fp aggregate → hash join
    back → per-doc rollup; the dup-fp set is corpus-dependent so the
    join must stay a real equi-join (no cartesian), and reassembly is
    collect_list-in-aggregate, never a window."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["boilerplate_chunk_removal_docs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_isotropy_audit_post_gram_is_cell_sized(spark):
    """Everything after the mapInPandas Gram build is d²-sized: the
    scalar combines must be broadcast-nested-loop over 1-row frames,
    never a shuffled cartesian."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["embedding_isotropy_audit"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_is_one_join_pass(spark):
    """The multi-clause merge is ONE left equi-join (+ the insert
    anti-join) — no windows, no cartesian, no per-row Python."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["cdc_apply_multi_clause_orders"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_asof_forward_is_window_scan_not_theta_join(spark):
    """Forward as-of with tolerance must keep the backward shape: one
    union + one per-key window scan — never a θ-join or cartesian."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["asof_forward_tolerance_events"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_semiadditive_spine_is_dimension_sized(spark):
    """The accounts×months spine builds from a BROADCAST months side
    (the only nested-loop allowed); the carry-forward window partitions
    by account — never an unpartitioned global window."""
    import re

    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["semiadditive_balance_monthly"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Window \[(.*?)\]", plan):
        assert "c#" in m.group(0) or "c AS" in m.group(0) or "partitionBy" not in m.group(0)


def test_hierarchy_rollup_is_explode_not_iteration(spark):
    """The ancestor closure must come from ONE arithmetic explode — no
    joins before the rollup aggregate, no windows, no iteration: the
    recursion is pre-folded into the plan."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["hierarchy_rollup_parts"](spark, SF_DIR))
    assert "Generate explode" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_ndcg_anchors_broadcast(spark):
    """3 fixed anchors must broadcast into the corpus scan — one pass,
    no corpus self-shuffle, no cartesian.  The final ndcg plan reads
    the graded candidates from a checkpoint (30 rows, materialized once
    for the DCG + ideal branches), so the broadcast assertion runs on
    the candidate stage itself."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES
    from imdb_metacritic_data_warehouse_spark.operators.similarity import cosine_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cand_plan = _plan(cosine_topk(e, [5, 42, 99], k=10))
    assert "BroadcastExchange" in cand_plan
    assert "CartesianProduct" not in cand_plan

    plan = _plan(QUERIES["ndcg_retrieval_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # graded candidates materialized once


def test_fair_interleave_topk_is_take_ordered(spark):
    """The global LIMIT-under-ORDER-BY must plan as
    TakeOrderedAndProject (per-partition top-k + merge), never a full
    global Sort of the corpus; the only unpartitioned window runs over
    the 40 surviving rows."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["fair_interleave_topk_docs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_median_ci_uses_two_phase_rank(spark):
    """Rank assignment must go through the two-phase global row number
    (range exchange + local rank), never a single-reducer
    Window.orderBy over the fact table."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan, executed = _plans(lambda: QUERIES["median_ci_lineitem"](spark, SF_DIR))
    assert "rangepartitioning" in plan
    assert "Scan ExistingRDD" in executed  # the one-execution pin


def test_wave19_21_no_cartesian_and_bounded_windows(spark):
    """Wave 19–21 plan audit: no cartesian/nested-loop joins anywhere;
    every Window is either partitioned (per-doc / per-dim / per-anchor
    bounded sets) or the two-phase rank's __pid offset scan; the
    global top-k cuts plan as TakeOrderedAndProject, not a global
    sort."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    for name in [
        "hits_suppliers_parts",
        "modularity_brand_copurchase",
        "item_cf_cosine_parts",
        "winnowing_fingerprints_docs",
        "dsir_selection_docs",
        "naive_bayes_lang_docs",
        "spell_candidates_docs",
        "cdc_chunk_dedup_docs",
        "ecod_outliers_embeddings",
        "textrank_keywords_docs",
    ]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        for part, order in _window_nodes(plan):
            if part.strip():
                continue
            # single-list Window nodes with no sort direction are
            # partition-only (e.g. max(pos) OVER (PARTITION BY doc));
            # the helper can't tell them from global ordered windows
            if " ASC" not in order and " DESC" not in order:
                continue
            assert "__pid" in order, (name, order)


def test_hits_and_ecod_global_cut_is_take_ordered(spark):
    """The per-role / top-25 cuts must be TakeOrderedAndProject (bounded
    k through every partition), never a full global Sort + Limit."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    for name in ["hits_suppliers_parts", "ecod_outliers_embeddings"]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_dsir_selection_rank_is_two_phase(spark):
    """DSIR's top-10% selection ranks the whole raw pool — must go
    through the range-partitioned two-phase global_row_number."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["dsir_selection_docs"](spark, SF_DIR))
    assert "rangepartitioning" in plan.lower()


def test_wave22_plan_audit(spark):
    """Wave-22 plan audit.  wasserstein: the ECDF ranks+cumsums ride ONE
    fused range exchange (rank.global_prefix) — rangepartitioning must
    appear, no cartesian joins, and the only ordered UNPARTITIONED
    windows are the __pid offset scan plus the 6-row per-priority
    totals frame (order on grp — post-aggregation, dimension-sized).
    hill: two-phase rank (rangepartitioning), the k-threshold join is
    broadcast.  mrr: anchor token sets broadcast into the corpus scan.
    shapley: the coalition algebra is all broadcast-sized (≤32-row
    frames); the corpus-scale reduction is the shingle distinct."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["wasserstein_drift_orders"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan.lower()
    for part, order in _window_nodes(plan):
        if part.strip():
            continue
        if " ASC" not in order and " DESC" not in order:
            continue
        assert "__pid" in order or "grp" in order, order

    plan = _plan(QUERIES["hill_tail_index_orders"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastExchange" in plan

    plan = _plan(QUERIES["mrr_retrieval_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan

    plan = _plan(QUERIES["shapley_source_valuation_docs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_wave23_plan_audit(spark):
    """Wave-23 plan audit.  isotonic: corpus reduces to a <=10-row
    decile frame (materialized once — Scan ExistingRDD), the PAV
    interval algebra is broadcast-sized.  bradley_terry: contests
    reduce to the brand-pair matrix map-side (in-task pair expansion —
    no fact-scale self-join), the MM folds run over dimension-sized
    frames.  frequent_triples: the cubic expansion is in-task
    (flatten/transform over per-order baskets, never a 3-way
    shuffle self-join), the top-20 cut plans as
    TakeOrderedAndProject."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["isotonic_calibration_docs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan

    plan = _plan(QUERIES["bradley_terry_brands"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # pair matrix materialized once
    # the part-dim broadcast happens BEFORE the pair-matrix checkpoint
    # (NOTES: _materialize hides upstream BroadcastExchange — gate the
    # pre-checkpoint stage)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    pt = spark.read.parquet(f"{SF_DIR}/part.parquet")
    from pyspark.sql import functions as FF

    ob_plan = _plan(
        li.join(
            FF.broadcast(pt.select("p_partkey", "p_brand")),
            li.l_partkey == FF.col("p_partkey"),
        ).groupBy("l_orderkey", "p_brand").count()
    )
    assert "BroadcastExchange" in ob_plan

    plan = _plan(QUERIES["frequent_triples_parts"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_wave24_plan_audit(spark):
    """Wave-24 plan audit.  km/page_hinkley: corpus reduces to a
    calendar-bounded series whose prefix folds live inside ONE array
    (no data-scale windows; the only ordered unpartitioned windows run
    over the day spine).  linear_interp: all windows are per-user.
    quantile_normalize: per-dim ranks ride ONE two-phase range
    exchange (rangepartitioning), never a 64-partition window."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    for name in ["km_survival_users", "page_hinkley_daily"]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name

    plan = _plan(QUERIES["linear_interp_user_hours"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    for part, order in _window_nodes(plan):
        assert part.strip(), order  # every window is user-partitioned

    plan = _plan(QUERIES["quantile_normalize_embeddings"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan.lower()


def test_wave25_plan_audit(spark):
    """Wave-25 plan audit: both queries reduce the fact table to a
    calendar-bounded series and fold INSIDE one array — no
    cartesian joins; the only ordered unpartitioned windows run over
    the day spine (post-aggregation, bounded)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    for name in ["logrank_test_users", "holt_winters_daily"]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_wave26_plan_audit(spark):
    """Wave-26 plan audit.  cka: the only corpus-scale work is the ONE
    mapInPandas block-matmul (ArrowEvalPython / MapInPandas node), all
    downstream frames are dim²-bounded; no cartesian joins.
    seasonal_anomaly: the moving-average self-join is broadcast; the
    unpartitioned windows run over the <=85-row monthly series.
    tightness: pair expansion is bounded by the cluster-size cap —
    no cartesian, and the shingle-set frame is materialized once."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["cka_quantization_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["seasonal_anomaly_monthly"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan

    plan = _plan(QUERIES["neardup_cluster_tightness"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_wave28_plan_audit(spark):
    """Wave-28 plan audit.  IVM: the refresh is three delta-term joins
    plus a dimension-sized merge aggregate — no cartesian.  blocking:
    candidate counts come from block-size ARITHMETIC (one vocab-sized
    aggregate), never a pair-expansion join; truth probes are
    |truth|-sized equi-joins."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    for name in ["incremental_join_view_orders", "blocking_quality_audit_docs"]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_substring_spans_two_data_exchanges(spark):
    """substring_dup_spans_docs (r8w29): exactly one exchange on the
    char-gram key + one on doc_id (whose single sort feeds BOTH
    interval-merge windows) + the final presentation sort — never a
    nested-loop pair join, never a per-window re-shuffle."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        substring_dup_spans_docs,
    )

    plan = _plan(substring_dup_spans_docs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # window partitions: one hashpartitioning on the gram, one on doc_id;
    # the only other exchange is the final presentation orderBy
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange rangepartitioning") == 1
    # the two interval-merge windows share ONE (doc_id, p) sort
    assert (
        sum(
            1
            for line in plan.splitlines()
            if "Sort [doc_id" in line and ", p#" in line
        )
        == 1
    )


def test_retraction_ivm_no_base_rescan_shape(spark):
    """retraction_ivm_orders (r8w30): the view merge must be a single
    co-partitioned full-outer join (SortMergeJoin FullOuter) — and the
    zero-group filter must not force any extra exchange above it."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q14_coreset_mixture import (
        retraction_ivm_orders,
    )

    plan = _plan(retraction_ivm_orders(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
