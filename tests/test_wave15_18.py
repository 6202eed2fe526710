"""Semantic invariants for the wave-15–18 operators — planted cases the
value-hash oracles can't express (the oracle proves engine parity; these
prove the SEMANTICS are the intended ones)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_boilerplate_removal_drops_shared_spans_keeps_unique(spark):
    """A 16-word span planted in 3 docs is removed from all of them;
    unique surrounding text survives with order preserved."""
    from imdb_metacritic_data_warehouse_spark.operators.text import chunk_documents

    boiler = " ".join(f"b{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + " ".join(f"u{i}" for i in range(16))),
            (2, boiler + " " + " ".join(f"v{i}" for i in range(16))),
            (3, boiler),
            (4, " ".join(f"w{i}" for i in range(16))),
        ],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs, chunk_size=16, stride=16).withColumn(
        "fp", F.md5("chunk_text")
    )
    dup = (
        chunks.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    kept = chunks.join(dup, "fp", "left_anti")
    out = {
        r.doc_id: r.txt
        for r in kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda x: x.chunk_text,
                ),
                " ",
            ).alias("txt")
        )
        .collect()
    }
    assert out[1] == " ".join(f"u{i}" for i in range(16))
    assert out[2] == " ".join(f"v{i}" for i in range(16))
    assert 3 not in out          # fully-boilerplate doc loses every chunk
    assert out[4].startswith("w0")  # unique doc untouched


def test_hierarchy_rollup_matches_bruteforce(spark):
    """Arithmetic ancestor-closure rollup == brute-force python closure
    on a handmade key set."""
    keys = [1, 7, 12, 73, 120, 1207, 9999]
    vals = {k: k * 10 for k in keys}
    df = spark.createDataFrame(
        [(k, v) for k, v in vals.items()], "node long, u long"
    )
    closure = df.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 9),"
                " i -> node div CAST(power(10, i) AS BIGINT)), x -> x >= 1)"
            )
        ).alias("anc"),
        "u",
    )
    got = {
        r.anc: (r.n, r.s)
        for r in closure.groupBy("anc")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("u").alias("s"))
        .collect()
    }

    import collections
    want = collections.defaultdict(lambda: [0, 0])
    for k in keys:
        a = k
        while a >= 1:
            want[a][0] += 1
            want[a][1] += vals[k]
            a //= 10
    assert got == {a: tuple(v) for a, v in want.items()}


def test_isotropy_extremes(spark):
    """Participation ratio hits its analytic extremes: orthogonal
    one-hot rows → PR = dims; rank-1 (all rows identical) → PR = 1."""
    from imdb_metacritic_data_warehouse_spark.operators.similarity import (
        gram_upper_cells,
    )

    def pr_of(rows, dims):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(rows)], "vec_id long, embedding array<float>"
        )
        grid = gram_upper_cells(df, scale=10000)
        s19 = F.col("sxy").cast("decimal(19,0)")
        r = grid.agg(
            F.sum(F.when(F.col("i") == F.col("j"), s19).otherwise(F.lit(0))).alias("tr"),
            F.sum(s19 * s19 * F.when(F.col("i") == F.col("j"), 1).otherwise(2)).alias(
                "fb"
            ),
        ).collect()[0]
        return float(r.tr) ** 2 / float(r.fb)

    dims = 4
    onehot = [[1.0 if j == i % dims else 0.0 for j in range(dims)] for i in range(8)]
    assert pr_of(onehot, dims) == pytest.approx(dims, rel=1e-9)
    rank1 = [[0.5, -0.25, 0.125, 1.0] for _ in range(8)]
    assert pr_of(rank1, dims) == pytest.approx(1.0, rel=1e-9)


def test_fair_interleave_head_exposure(spark):
    """The first |sources| positions contain exactly one doc per source
    (the round-robin exposure guarantee a pure quality sort breaks)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    rows = QUERIES["fair_interleave_topk_docs"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_sources = len({r.source for r in rows})
    head = [r for r in rows if r.position <= n_sources]
    assert len({r.source for r in head}) == n_sources
    assert all(r.src_rank == 1 for r in head)


def test_median_ci_brackets_median(spark):
    """The order-statistic CI must bracket the median and be ordered."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["median_ci_lineitem"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r.ci_lo <= r.median <= r.ci_hi
    assert r.k_lo < r.n // 2 < r.k_hi


def test_t_closeness_bounds(spark):
    """Total-variation t is in [0, 1] and the global-vs-global distance
    of a single-group partition is 0."""
    from imdb_metacritic_data_warehouse_spark.entry_queries import QUERIES

    r = QUERIES["t_closeness_audit_customers"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0.0 <= r.min_t <= r.max_t <= 1.0
