"""Unit tests for wave-8 operators: JL projection, degree
assortativity, readability, Pareto head selection, Theil-Sen."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.graph import (
    degree_assortativity,
)
from imdb_metacritic_data_warehouse_spark.operators.similarity import jl_project
from imdb_metacritic_data_warehouse_spark.operators.text import readability_score


def test_jl_project_shape_and_linearity(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [2.0] * 64), (3, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.proj for r in jl_project(df).collect()}
    assert all(len(v) == 16 for v in out.values())
    # ±1 weights: projecting 2x scales every component exactly 2x,
    # and the zero vector maps to the zero vector
    assert all(b == 2 * a for a, b in zip(out[1], out[2]))
    assert all(c == 0.0 for c in out[3])
    # each component of proj(1-vector) is the weight-row sum: an even
    # integer-valued double with |value| <= 64
    assert all(abs(c) <= 64 and c == int(c) and int(c) % 2 == 0 for c in out[1])


def test_degree_assortativity_star_is_minus_one(spark):
    # star graph: hub 0 to leaves 1..4 — perfectly disassortative
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "pa long, pb long"
    )
    row = degree_assortativity(pairs).collect()[0]
    assert row.n_edges == 8
    assert abs(row.assortativity - (-1.0)) < 1e-9


def test_degree_assortativity_two_regular_components(spark):
    # one triangle (degrees 2) + one edge pair (degrees 1): positive
    # mixing — every edge connects equal degrees, r = +1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "pa long, pb long"
    )
    row = degree_assortativity(pairs).collect()[0]
    assert abs(row.assortativity - 1.0) < 1e-9


def test_readability_counts(spark):
    df = spark.createDataFrame(
        [("the cat sat. on a mat!",)], "text string"
    )
    cols = readability_score()
    r = df.select(
        cols["n_words"].alias("w"),
        cols["n_sentences"].alias("s"),
        cols["n_syllables"].alias("y"),
        cols["score"].alias("score"),
    ).collect()[0]
    assert r.w == 6
    assert r.s == 2
    # vowel groups: e, a, a, o, a, a -> 6
    assert r.y == 6
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r.score - expected) < 1e-9


def test_pareto_head_minimal_cover(spark, monkeypatch, tmp_path):
    # revenues 50, 30, 15, 5 cents: 80% of 100 = 80 -> parts 1+2 give
    # exactly 80, but the strict predicate 5*(cum-rev) < 4*total keeps
    # any part STARTING before the 80% point: cum_before for part 3 is
    # 80 -> 5*80 = 400 = 4*100 not < -> excluded.  Selected = {1, 2}.
    from imdb_metacritic_data_warehouse_spark.operators.packing import (
        global_cumsum,
    )

    rev = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 15), (4, 5)], "part long, cents long"
    )
    c = global_cumsum(rev, [F.col("cents").desc(), F.col("part").asc()], "cents", "cum")
    total = c.agg(F.sum("cents").alias("total"))
    sel = (
        c.crossJoin(F.broadcast(total))
        .filter(5 * (F.col("cum") - F.col("cents")) < 4 * F.col("total"))
        .select("part")
        .collect()
    )
    assert sorted(r.part for r in sel) == [1, 2]


def test_theil_sen_resists_outlier(spark):
    # y = 2x for months 0..5 except one wild outlier at month 3:
    # the pairwise-slope median stays 2.0 while OLS would not
    rows = [(0, 0.0), (1, 2.0), (2, 4.0), (3, 1000.0), (4, 8.0), (5, 10.0)]
    m = spark.createDataFrame(rows, "mi int, rev double")
    a, b = m.alias("a"), m.alias("b")
    sl = a.join(b, F.col("b.mi") > F.col("a.mi")).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.mi") - F.col("a.mi"))).alias(
            "slope"
        )
    )
    slopes = sorted(r.slope for r in sl.collect())
    n = len(slopes)
    med = (slopes[(n + 1) // 2 - 1] + slopes[n // 2]) / 2
    assert abs(med - 2.0) < 1e-9


def test_poisson_bootstrap_weights_distribution(spark):
    # the integer inverse-CDF must reproduce Poisson(1) frequencies:
    # ~36.8% zeros, mean ~1.0 over many draws
    from imdb_metacritic_data_warehouse_spark.entry_queries.q06_stats_dimred import (
        _POIS1_T,
    )

    from pyspark.sql import functions as F

    df = spark.range(20000).select(F.col("id"))
    u = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    wt = F.when(u < _POIS1_T[0], 0)
    for k, t in enumerate(_POIS1_T[1:], start=1):
        wt = wt.when(u < t, k)
    wt = wt.otherwise(6)
    stats = df.select(wt.alias("w")).agg(
        F.avg("w").alias("mean"),
        F.avg((F.col("w") == 0).cast("int")).alias("p0"),
    ).collect()[0]
    assert abs(stats.mean - 1.0) < 0.03
    assert abs(stats.p0 - math.exp(-1)) < 0.02


def test_bitmap_distinct_matches_exact(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(g, u) for g in ("a", "b") for u in (1, 2, 3, 100000, 2, 1)],
        "g string, user_id long",
    )
    b = (
        df.groupBy("g", F.bitmap_bucket_number("user_id").alias("bk"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
        .groupBy("g")
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
    )
    assert {r.g: r.n for r in b.collect()} == {"a": 4, "b": 4}


def test_kcore_peel_known_graph(spark):
    from imdb_metacritic_data_warehouse_spark.operators.graph import kcore_peel

    # K4 on {1,2,3,4} (a true 3-core) + a pendant chain 4-5-6 that
    # must peel away entirely
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    pairs = spark.createDataFrame(k4 + [(4, 5), (5, 6)], "pa long, pb long")
    row = kcore_peel(pairs).collect()[0]
    assert row.n_nodes == 4
    assert row.n_edges == 6
    assert row.node_id_sum == 10
    assert row.converged == 1


def test_kcore_peel_fully_dissolves(spark):
    from imdb_metacritic_data_warehouse_spark.operators.graph import kcore_peel

    # a tree has no 3-core: everything peels, counts go to zero
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 5), (2, 6)], "pa long, pb long"
    )
    row = kcore_peel(pairs).collect()[0]
    assert row.n_nodes == 0
    assert row.n_edges == 0
    assert row.converged == 1


def test_incremental_join_view_handles_all_change_types(spark, tmp_path):
    """Delta maintenance must equal cold recompute under insert +
    update + delete in one version step."""
    from imdb_metacritic_data_warehouse_spark.sources.table import (
        VersionedParquetTable,
        version_diff,
    )

    dim1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k long, g string, bal double",
    )
    dim2 = spark.createDataFrame(
        # 1 updated, 2 deleted, 4 inserted, 3 unchanged
        [(1, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k long, g string, bal double",
    )
    fact = spark.createDataFrame(
        [(i, k, float(i)) for i, k in enumerate([1, 1, 2, 3, 4, 4, 4])],
        "fid long, k long, amt double",
    )
    t = VersionedParquetTable(spark, str(tmp_path), "dim")
    t.write(dim1)
    t.write(dim2)
    view1 = fact.join(t.read(1), "k")
    affected = version_diff(t, "k", include_old=True).select("k").distinct()
    maintained = view1.join(affected, "k", "left_anti").unionByName(
        fact.join(t.read(2).join(affected, "k", "left_semi"), "k")
    )
    recompute = fact.join(t.read(2), "k")
    got = {(r.fid, r.k, r.bal) for r in maintained.collect()}
    want = {(r.fid, r.k, r.bal) for r in recompute.collect()}
    assert got == want


def test_rollup_cascade_reaggregates_exactly(spark):
    from datetime import datetime

    rows = [
        (datetime(2024, 1, 1, 0, 0, 30), "a", 1.5),
        (datetime(2024, 1, 1, 0, 59, 59), "a", 2.5),  # same hour
        (datetime(2024, 1, 1, 23, 59, 59), "a", 4.0),  # same day, last hour
        (datetime(2024, 1, 2, 0, 0, 0), "a", 8.0),  # next day boundary
    ]
    e = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    minute = e.groupBy(F.date_trunc("minute", "ts").alias("m"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,4)")).alias("v")
    )
    hour = minute.groupBy(F.date_trunc("hour", "m").alias("h"), "event_type").agg(
        F.sum("n").alias("n"), F.sum("v").alias("v")
    )
    day = hour.groupBy(F.date_trunc("day", "h").alias("d"), "event_type").agg(
        F.sum("n").alias("n"), F.sum("v").alias("v")
    )
    got = {(str(r.d.date()), r.n, float(r.v)) for r in day.collect()}
    assert got == {("2024-01-01", 3, 8.0), ("2024-01-02", 1, 8.0)}


def test_bootstrap_mix_draws_are_poisson_and_decorrelated(spark):
    """Verdict r4 task #4's draw mechanics: ONE md5 per row split into
    32 replicate variates via multiply-shift mixing must (a) keep
    Poisson(1) marginal frequencies per replicate, (b) give draws that
    actually differ across replicates (not 32 copies of one draw), and
    (c) stay inside [0, 2^60) so the threshold compare is meaningful."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.entry_queries.q06_stats_dimred import (
        _MIX,
        _MIX_HALF,
        _MIX_MOD,
        _POIS1_T,
    )

    df = spark.range(20000)
    u = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    base = df.select(u.alias("u"))

    def wt(b):
        a1, c1, d1, a2, c2, d2 = _MIX[b]
        hi = F.expr(f"u div {_MIX_HALF}")
        lo = F.col("u") % F.lit(_MIX_HALF)
        v_hi = (F.lit(a1) * hi + F.lit(c1) * lo + F.lit(d1)) % F.lit(_MIX_HALF)
        v_lo = (F.lit(a2) * lo + F.lit(c2) * hi + F.lit(d2)) % F.lit(_MIX_HALF)
        v = v_hi * F.lit(_MIX_HALF) + v_lo
        assert v is not None and _MIX_MOD == _MIX_HALF * _MIX_HALF
        w = F.when(v < _POIS1_T[0], 0)
        for k, t in enumerate(_POIS1_T[1:], start=1):
            w = w.when(v < t, k)
        return w.otherwise(6)

    stats = base.agg(
        *[F.avg(wt(b)).alias(f"m{b}") for b in (0, 7, 31)],
        F.avg((wt(0) == wt(7)).cast("int")).alias("agree07"),
        F.avg((wt(0) == 0).cast("int")).alias("p0"),
    ).collect()[0]
    for b in (0, 7, 31):
        assert abs(stats[f"m{b}"] - 1.0) < 0.05
    assert abs(stats.p0 - math.exp(-1)) < 0.02
    # independent Poisson(1) pairs agree with prob Σp_k² ≈ 0.31; 32
    # identical copies would agree with prob 1
    assert stats.agree07 < 0.45


def test_hll_estimate_accuracy_model(spark):
    """HLL with p=8 must estimate known cardinalities within ~3σ
    (σ ≈ 1.04/√256 = 6.5%) on both estimator branches: 100 distinct
    (linear counting) and 20000 distinct (raw harmonic)."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        hll_estimate,
        hll_register_maxes,
    )

    for n in (100, 20000):
        df = spark.range(n).select(
            F.lit("g").alias("grp"), F.col("id").alias("k")
        )
        regs = hll_register_maxes(df, ["grp"], "k")
        est = hll_estimate(regs, ["grp"]).collect()[0].hll_estimate
        assert abs(est - n) < 0.2 * n, (n, est)


def test_hll_registers_merge_across_partitionings(spark):
    """Register MAX-merge is order-free: 1-partition and 32-partition
    layouts must produce identical register tables and estimates."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        hll_estimate,
        hll_register_maxes,
    )

    df1 = spark.range(5000).select(F.lit("g").alias("grp"), F.col("id").alias("k"))
    r1 = hll_register_maxes(df1.coalesce(1), ["grp"], "k")
    r32 = hll_register_maxes(df1.repartition(32), ["grp"], "k")
    t1 = {(r.bucket, r.mj) for r in r1.collect()}
    t32 = {(r.bucket, r.mj) for r in r32.collect()}
    assert t1 == t32
    e1 = hll_estimate(r1, ["grp"]).collect()[0].hll_estimate
    e32 = hll_estimate(r32, ["grp"]).collect()[0].hll_estimate
    assert e1 == e32


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge must resolve to two
    communities labeled by each clique's smallest node id."""
    from imdb_metacritic_data_warehouse_spark.operators.graph import (
        label_propagation,
    )

    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges.append((4, 10))  # bridge
    df = spark.createDataFrame(edges, "pa long, pb long")
    lab = {r.v: r.label for r in label_propagation(df).collect()}
    assert set(lab[v] for v in (1, 2, 3)) == {1}
    assert set(lab[v] for v in (11, 12, 13)) == {10}


def test_holt_fold_matches_python_recursion(spark):
    """The aggregate() Holt fold must equal the straightforward Python
    recursion bit-for-bit (same left-assoc double ops)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["holt_forecast_nation_monthly"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 25
    # recompute one nation end-to-end in python
    import duckdb

    con = duckdb.connect()
    ser = con.execute(
        """
        SELECT list(CAST(cents AS DOUBLE) ORDER BY x) FROM (
          SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                 + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM read_parquet('/root/testdata/sf0.001/orders.parquet') o
          JOIN read_parquet('/root/testdata/sf0.001/customer.parquet') c ON o_custkey = c_custkey
          JOIN read_parquet('/root/testdata/sf0.001/nation.parquet') n ON c_nationkey = n_nationkey
          WHERE n_name = (SELECT min(n_name) FROM read_parquet('/root/testdata/sf0.001/nation.parquet') n2)
          GROUP BY 1)
        """
    ).fetchone()[0]
    s, b = ser[1], ser[1] - ser[0]
    for y in ser[2:]:
        s_new = 0.5 * y + 0.5 * (s + b)
        b = 0.3 * (s_new - s) + 0.7 * b
        s = s_new
    first_nation = sorted(r.nation for r in rows)[0]
    got = next(r for r in rows if r.nation == first_nation)
    assert got.level == round(s / 100.0, 4)
    assert got.trend == round(b / 100.0, 4)


def test_hll_null_keys_dropped_like_oracle(spark):
    """NULL keys must be DROPPED, not hashed as "<seed>:" (ADVICE r5:
    concat_ws skips NULLs while the DuckDB oracle's `||` propagates
    them) — registers over [1..100, NULL] must equal registers over
    [1..100]."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        hll_register_maxes,
    )

    base = spark.range(100).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k")
    )
    with_null = base.unionByName(
        spark.range(1).select(
            F.lit("g").alias("grp"), F.lit(None).cast("string").alias("k")
        )
    )
    a = {
        (r.bucket, r.mj)
        for r in hll_register_maxes(base, ["grp"], "k").collect()
    }
    b = {
        (r.bucket, r.mj)
        for r in hll_register_maxes(with_null, ["grp"], "k").collect()
    }
    assert a == b
