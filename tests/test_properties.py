"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 5.

Model-based checking of the SCD2 merge against a plain-Python reference
model over random batch sequences, plus the two genre-parse variants'
equivalence on arbitrary well-formed scraper output, and hash-key
stability under repartitioning.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.functions.keys import hash_key
from imdb_metacritic_data_warehouse_spark.functions.parsing import (
    explode_genres_json,
    explode_genres_split,
)
from imdb_metacritic_data_warehouse_spark.operators.scd2 import (
    OPEN_SENTINEL,
    scd2_apply,
)

# pk → attr value per batch; None attr values exercise the null-safe
# change predicate.
_BATCH = st.dictionaries(
    st.integers(0, 5), st.sampled_from(["a", "b", None]), min_size=0, max_size=6
)
_SEQS = st.lists(_BATCH, min_size=1, max_size=3)

_TS = [f"2024-0{i}-01 00:00:00" for i in range(1, 10)]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=_SEQS)
def test_scd2_model_check(spark, batches):
    state = None
    open_model: dict[int, str | None] = {}
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(k, v) for k, v in batch.items()] or [(None, None)],
            "pk int, x string",
        )
        if not batch:
            df = df.filter(F.lit(False))
        state = scd2_apply(state, df, "pk", ["x"], _TS[i])
        open_model = dict(batch)

    rows = state.collect()
    open_rows = [r for r in rows if str(r.valid_to).startswith("9999")]
    # exactly the last batch's keys are open, with its values
    assert {r.pk: r.x for r in open_rows} == open_model
    # ≤1 open row per pk
    assert len({r.pk for r in open_rows}) == len(open_rows)
    # per-pk validity intervals never overlap and are well-formed
    by_pk: dict[int, list] = {}
    for r in rows:
        by_pk.setdefault(r.pk, []).append(r)
    for vers in by_pk.values():
        vers.sort(key=lambda r: str(r.valid_from))
        for a, b in zip(vers, vers[1:]):
            assert str(a.valid_to) <= str(b.valid_from)
        for r in vers:
            assert str(r.valid_from) <= str(r.valid_to)


_GENRE = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz -", min_size=1, max_size=12
).filter(lambda s: s.strip(" -") == s and s != "")
_GENRE_LISTS = st.lists(_GENRE, min_size=0, max_size=5, unique=True)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(genres=_GENRE_LISTS)
def test_genre_parse_variants_agree_property(spark, genres):
    """F4 (split) and F5 (json) must parse every well-formed scraper
    list identically (the scraper never emits quotes/commas inside a
    genre — SURVEY.md §7.5 documents that fragility)."""
    raw = repr(genres)  # exactly what the scraper stringifies
    df = spark.createDataFrame([(raw,)], "genres string")
    split_out = df.select(
        F.array_sort(explode_genres_split(F.col("genres"))).alias("g")
    ).first().g
    json_out = df.select(
        F.array_sort(
            F.filter(
                F.coalesce(
                    explode_genres_json(F.col("genres")),
                    F.array().cast("array<string>"),
                ),
                lambda x: x != "",
            )
        ).alias("g")
    ).first().g
    assert split_out == json_out == sorted(genres)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(st.text(max_size=8), st.integers(0, 1000)),
        min_size=1,
        max_size=20,
    )
)
def test_hash_key_stable_under_repartitioning(spark, rows):
    df = spark.createDataFrame(rows, "name string, dur int")
    one = df.coalesce(1).select(hash_key("name", "dur").alias("k"))
    many = df.repartition(8, "dur").select(hash_key("name", "dur").alias("k"))
    assert sorted(r.k for r in one.collect()) == sorted(
        r.k for r in many.collect()
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=12,
        unique_by=lambda r: (r[0], r[1]),  # one right row per (key, ts): ties at
        # equal ts are arbitrary-pick in both engines, so exclude them from the model
    ),
)
def test_asof_join_model_check(spark, lefts, rights):
    from imdb_metacritic_data_warehouse_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, float(t)) for k, t in lefts], "k int, ts double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    rdf = spark.createDataFrame(
        [(k, float(t), v) for k, t, v in rights] or [(0, 0.0, 0)],
        "k int, ts double, v int",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    if not rights:
        rdf = rdf.filter(F.lit(False))
    out = asof_join(ldf, rdf, key="k", right_payload=["v"]).collect()

    def model(k, t):
        cands = [(rt, v) for rk, rt, v in rights if rk == k and rt <= t]
        return max(cands)[1] if cands else None

    assert len(out) == len(lefts)
    got = sorted((r.k, r.ts.timestamp(), r.v_asof) for r in out)
    want = sorted((k, float(t), model(k, t)) for k, t in lefts)
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # NULL is a group too
            st.one_of(st.none(), st.integers(-50, 50)),
        ),
        min_size=1,
        max_size=40,
    ),
    fracs=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_exact_percentiles_model_check(spark, rows, fracs):
    """Property: the two-phase rank percentile equals Spark's buffering
    F.percentile on arbitrary (key, nullable value) data and arbitrary
    fraction sets — including all-NULL groups vanishing from both."""
    from pyspark.sql import functions as F

    from imdb_metacritic_data_warehouse_spark.operators.percentile import (
        exact_percentiles_grouped,
    )

    df = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in rows],
        "k int, v double",
    )  # nullable k: the NULL group must survive the offset/count joins
    names = [f"q{i}" for i in range(len(fracs))]
    got = {
        r["k"]: [r[n] for n in names]
        for r in exact_percentiles_grouped(df, ["k"], "v", fracs, names).collect()
    }
    want = {
        r["k"]: list(r["ps"])
        for r in df.filter(F.col("v").isNotNull())
        .groupBy("k")
        .agg(F.percentile("v", F.array(*[F.lit(f) for f in fracs])).alias("ps"))
        .collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=25,
    )
)
def test_pareto_frontier_model_check(spark, rows):
    """Property: the two-phase skyline equals the brute-force dominance
    model (q dominates p iff q is ≤ cost, ≥ gain, strictly better in
    one) on arbitrary small integer point sets — including duplicate
    points, full ties, and single-row inputs."""
    from imdb_metacritic_data_warehouse_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    pts = [(i, float(c), g) for i, (c, g) in enumerate(rows)]
    df = spark.createDataFrame(pts, "id int, cost double, gain int")
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "cost", "gain").collect())
    want = sorted(
        i
        for i, c, g in pts
        if not any(
            (qc <= c and qg >= g) and (qc < c or qg > g)
            for _, qc, qg in pts
        )
    )
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # NULL is a group too
            st.integers(0, 6),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_weighted_median_model_check(spark, rows):
    """Property: the two-phase weighted median equals the brute-force
    'smallest value whose cumulative weight doubles past the total'
    on arbitrary grouped weighted multisets."""
    from collections import defaultdict

    from imdb_metacritic_data_warehouse_spark.operators.percentile import (
        weighted_median_grouped,
    )

    df = spark.createDataFrame(
        [(k, float(v), w) for k, v, w in rows], "k int, v double, w int"
    )
    got = {
        r["k"]: (r["total_weight"], r["weighted_median"])
        for r in weighted_median_grouped(df, ["k"], "v", "w").collect()
    }
    groups = defaultdict(list)
    for k, v, w in rows:
        groups[k].append((float(v), w))
    want = {}
    for k, vw in groups.items():
        agg = defaultdict(int)
        for v, w in vw:
            agg[v] += w
        total = sum(agg.values())
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if 2 * cum >= total:
                want[k] = (total, v)
                break
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    ),
    hops=st.integers(1, 3),
)
def test_bfs_model_check(spark, edges, hops):
    """Property: frontier BFS distances equal a plain-Python BFS over
    the same undirected graph, bounded at the same hop count."""
    from collections import deque

    from imdb_metacritic_data_warehouse_spark.operators.graph import (
        bfs_distances,
        undirected_edges,
    )

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "pa long, pb long"
    ).distinct()
    seed = min(min(a, b) for a, b in edges)
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            undirected_edges(pairs, "pa", "pb"), seeds, max_hops=hops
        ).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {seed: 0}
    q = deque([(seed, 0)])
    while q:
        n, d = q.popleft()
        if d == hops:
            continue
        for m in adj.get(n, ()):
            if m not in want:
                want[m] = d + 1
                q.append((m, d + 1))
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=12,
        unique_by=lambda r: (r[0], r[1]),
    ),
    tol=st.one_of(st.none(), st.integers(0, 10)),
)
def test_asof_join_forward_tolerance_model_check(spark, lefts, rights, tol):
    from imdb_metacritic_data_warehouse_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, float(t)) for k, t in lefts], "k int, ts double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    rdf = spark.createDataFrame(
        [(k, float(t), v) for k, t, v in rights] or [(0, 0.0, 0)],
        "k int, ts double, v int",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    if not rights:
        rdf = rdf.filter(F.lit(False))
    out = asof_join(
        ldf, rdf, key="k", right_payload=["v"], direction="forward",
        tolerance_seconds=tol,
    ).collect()

    def model(k, t):
        cands = [(rt, v) for rk, rt, v in rights if rk == k and rt >= t]
        if not cands:
            return None
        rt, v = min(cands)
        if tol is not None and rt - t > tol:
            return None
        return v

    assert len(out) == len(lefts)
    got = sorted((r.k, r.ts.timestamp(), r.v_asof) for r in out)
    want = sorted((k, float(t), model(k, t)) for k, t in lefts)
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # group
            st.integers(min_value=-50, max_value=50),  # value weight 1
            st.integers(min_value=0, max_value=9),     # value weight 2
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=5),
)
def test_global_prefix_model_check(spark, rows, nparts):
    """rank.global_prefix (the fused N-ary two-phase prefix primitive)
    must equal the serial model for ANY input and partition count —
    including negative weights, duplicate (grp, key) prefixes resolved
    by the unique key, and single-row groups.  Guards the
    multi-window partition-id regression (NOTES round-7 third
    continuation) under partition-count variation."""
    from pyspark.sql import functions as FF

    from imdb_metacritic_data_warehouse_spark.operators.rank import global_prefix

    data = [
        (str(g), i, int(w1), int(w2)) for i, (g, w1, w2) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "grp string, k long, w1 long, w2 long")
    got = {
        (r.grp, r.k): (r.rn, r.cum_w1, r.cum_w2)
        for r in global_prefix(
            df,
            [FF.col("grp"), FF.col("k")],
            ["w1", "w2"],
            rn_col="rn",
            num_partitions=nparts,
        ).collect()
    }
    c1 = c2 = 0
    for i, (g, k, w1, w2) in enumerate(sorted(data), 1):
        c1 += w1
        c2 += w2
        assert got[(g, k)] == (i, c1, c2), (g, k)


# Wave-29 substring spans: model-check the whole operator (gram index →
# duplicate filter → interval merge) against a brute-force reference on
# random small alphabets (ab only — maximizes repeats and overlap
# cases, the class that broke the first draft's unit-step islands).
_DOCTEXTS = st.lists(
    st.text(alphabet="ab", min_size=0, max_size=40), min_size=1, max_size=5
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=_DOCTEXTS)
def test_substring_spans_model_check(spark, tmp_path_factory, texts):
    from imdb_metacritic_data_warehouse_spark.entry_queries.q13_substring_fertility import (
        substring_dup_spans_docs,
    )

    K = 16
    tmp = tmp_path_factory.mktemp("sub")
    rows = [(i, t, len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, n_chars long"
    ).write.parquet(str(tmp / "documents.parquet"))

    # brute-force model: count every K-gram, mark duplicated start
    # positions, union the [p, p+K-1] intervals per doc.
    from collections import Counter

    grams = Counter()
    for t in texts:
        for p in range(len(t) - K + 1):
            grams[t[p : p + K]] += 1
    want = {}
    for i, t in enumerate(texts):
        covered = set()
        for p in range(len(t) - K + 1):
            if grams[t[p : p + K]] > 1:
                covered.update(range(p, p + K))
        if covered:
            # contiguous runs of covered chars = merged spans
            runs, cur = [], None
            for c in sorted(covered):
                if cur is None or c > cur[1] + 1:
                    cur = [c, c]
                    runs.append(cur)
                else:
                    cur[1] = c
            want[i] = (len(runs), sum(b - a + 1 for a, b in runs))
    got = {
        r.doc_id: (r.n_spans, r.dup_chars)
        for r in substring_dup_spans_docs(spark, str(tmp)).collect()
    }
    assert got == want
