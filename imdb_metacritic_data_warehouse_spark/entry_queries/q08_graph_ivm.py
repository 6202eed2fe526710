"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _dec, _events, _t, materialize, query
from .q01_warehouse import _MINHASH_CORPUS_SQL, _MINHASH_SIG_SQL, cosine_topk, simhash
from .q02_pipeline_parity import Window, _finish_scratch, _scratch_dir
from .q03_dedup_lsh import _neardup_labels_cached
from .q07_resampling_tokenizer import _HLL_ALPHA
from ..operators.text import token_count_ws, tokens



# ===========================================================================
# Round-5 wave 11e: exact-Gram power iteration (PCA prep), inter-event
# burstiness, Welch's t-test.


def _pca_oracle_sql(iters: int = 3) -> str:
    head = """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
    grid AS MATERIALIZED (
      SELECT d1.i AS i, d2.j AS j,
             SUM(CAST(floor(v[d1.i] * 10000000.0 + 0.5) AS BIGINT)
                 * CAST(floor(v[d2.j] * 10000000.0 + 0.5) AS BIGINT)) AS sxy
      FROM e,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) d1,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) d2
      WHERE d2.j >= d1.i
      GROUP BY 1, 2
    ),
    full_g AS MATERIALIZED (
      SELECT i, j, sxy FROM grid
      UNION ALL SELECT j AS i, i AS j, sxy FROM grid WHERE i <> j
    ),
    v0 AS (SELECT unnest(generate_series(1, 64)) AS j,
                  CAST(1000000 AS BIGINT) AS vint)"""
    steps = []
    for r in range(1, iters + 1):
        steps.append(f"""
    w{r} AS MATERIALIZED (
      SELECT g.i, SUM(CAST(g.sxy AS DECIMAL(25,0))
                      * CAST(v.vint AS DECIMAL(12,0))) AS wi
      FROM full_g g JOIN v{r - 1} v ON v.j = g.j GROUP BY g.i
    ),
    m{r} AS (SELECT MAX(abs(wi)) AS mx FROM w{r}),
    v{r} AS MATERIALIZED (
      SELECT i AS j,
             CAST(round(CAST(wi AS DOUBLE) / CAST(mx AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS vint
      FROM w{r} CROSS JOIN m{r}
    )""")
    tail = f"""
    wf AS MATERIALIZED (
      SELECT g.i, SUM(CAST(g.sxy AS DECIMAL(25,0))
                      * CAST(v.vint AS DECIMAL(12,0))) AS wi
      FROM full_g g JOIN v{iters} v ON v.j = g.j GROUP BY g.i
    ),
    ray AS (
      SELECT CAST(SUM(CAST(v.vint AS DECIMAL(12,0))
                      * CAST(w.wi AS DECIMAL(25,0))) AS DECIMAL(38,0)) AS num,
             CAST(SUM(v.vint * v.vint) AS BIGINT) AS den
      FROM v{iters} v JOIN wf w ON w.i = v.j
    )
    SELECT v.j AS i,
           round(CAST(v.vint AS DOUBLE) / 1000000.0, 6) AS loading,
           round(CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)
                 / 100000000000000.0 / nn.n, 6) AS lambda_moment
    FROM v{iters} v CROSS JOIN ray r CROSS JOIN n nn
    ORDER BY i"""
    return head + "," + ",".join(steps) + "," + tail


# Top principal component of the embedding second-moment matrix —
# fixed-3-round power iteration on the EXACT integer Gram
# (operators/similarity.gram_power_iteration), the PCA prep that the
# order-free Gram rewrite (r4 verdict task #1) makes hash-checkable:
# the iterate lives on an integer micro-grid and every matvec is exact
# decimal arithmetic, so Spark and the unrolled DuckDB oracle produce
# bit-identical loadings AND Rayleigh eigenvalue.  Scale: one corpus
# scan builds the Gram (O(dim²·blocks) shuffle); the iteration itself
# is dim²-sized — free at any corpus size.
@query("pca_top_component_embeddings", _pca_oracle_sql(3))
def pca_top_component_embeddings(spark, sf_dir):
    from ..operators.similarity import gram_power_iteration, gram_upper_cells

    e = _t(spark, sf_dir, "embeddings")
    grid = gram_upper_cells(e)
    vw = gram_power_iteration(grid, dims=64)
    n = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ray = vw.agg(
        F.sum(
            F.col("vint").cast("decimal(12,0)") * F.col("wi").cast("decimal(25,0)")
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(F.col("vint") * F.col("vint")).cast("bigint").alias("den"),
    )
    return (
        vw.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            F.round(F.col("vint").cast("double") / F.lit(1000000.0), 6).alias(
                "loading"
            ),
            F.round(
                F.col("num").cast("double")
                / F.col("den").cast("double")
                / F.lit(1.0e14)
                / F.col("n"),
                6,
            ).alias("lambda_moment"),
        )
        .orderBy("i")
    )


# Inter-event burstiness — per (user, event_type) arrival-gap moments
# rolled up to event type: burstiness B = (σ−μ)/(σ+μ) of inter-arrival
# times (Goh & Barabási 2008), the "is this traffic Poisson or bursty"
# diagnostic that sizes streaming-state retention.  Gaps are exact
# integer microseconds from per-user LAG windows (user-partitioned —
# never a corpus-wide window); Σgap and Σgap² fold as exact
# bigint/decimal, so μ, σ, B are one shared double expression each.
# Gap stats report in SECONDS: at µs scale the std (~2e11) needs more
# significant digits than a double carries, so round-4 exposed the two
# engines' last-ulp sqrt difference (caught at sf0.001).
@query(
    "interevent_burstiness_events",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_us) AS BIGINT) AS sg,
             CAST(SUM(CAST(gap_us AS DECIMAL(19,0))
                      * CAST(gap_us AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg2
      FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(CAST(sg AS DOUBLE) / n_gaps / 1000000.0, 6) AS mean_gap_s,
           round(sqrt(CAST(sg2 AS DOUBLE) / n_gaps
                      - (CAST(sg AS DOUBLE) / n_gaps)
                        * (CAST(sg AS DOUBLE) / n_gaps)) / 1000000.0, 6)
             AS std_gap_s,
           round((sqrt(CAST(sg2 AS DOUBLE) / n_gaps
                       - (CAST(sg AS DOUBLE) / n_gaps)
                         * (CAST(sg AS DOUBLE) / n_gaps))
                  - CAST(sg AS DOUBLE) / n_gaps)
                 / (sqrt(CAST(sg2 AS DOUBLE) / n_gaps
                         - (CAST(sg AS DOUBLE) / n_gaps)
                           * (CAST(sg AS DOUBLE) / n_gaps))
                    + CAST(sg AS DOUBLE) / n_gaps), 6) AS burstiness
    FROM s ORDER BY event_type
    """,
)
def interevent_burstiness_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    gd = F.col("gap_us").cast("decimal(19,0)")
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("sg"),
        F.sum(gd * gd).cast("decimal(38,0)").alias("sg2"),
    )
    mu = F.col("sg").cast("double") / F.col("n_gaps")
    sd = F.sqrt(F.col("sg2").cast("double") / F.col("n_gaps") - mu * mu)
    return s.select(
        "event_type",
        "n_gaps",
        F.round(mu / F.lit(1000000.0), 6).alias("mean_gap_s"),
        F.round(sd / F.lit(1000000.0), 6).alias("std_gap_s"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


# Welch's t-test — unequal-variance two-sample mean comparison of
# order totals between two customer segments (parity split), with the
# Welch-Satterthwaite effective degrees of freedom.  Everything up to
# the final t and dof expressions is exact integer/decimal sufficient
# statistics in cents — the same one-shared-double-expression
# discipline as every inference query here.
@query(
    "welch_ttest_orders",
    """
    WITH f AS (
      SELECT CAST(o_custkey % 2 AS INTEGER) AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    s AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sx,
             CAST(SUM(CAST(cents AS DECIMAL(19,0))
                      * CAST(cents AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx
      FROM f GROUP BY g
    ),
    w AS (
      SELECT MAX(CASE WHEN g = 0 THEN n END) AS n0,
             MAX(CASE WHEN g = 1 THEN n END) AS n1,
             MAX(CASE WHEN g = 0 THEN sx END) AS sx0,
             MAX(CASE WHEN g = 1 THEN sx END) AS sx1,
             MAX(CASE WHEN g = 0 THEN sxx END) AS sxx0,
             MAX(CASE WHEN g = 1 THEN sxx END) AS sxx1
      FROM s
    )
    SELECT n0, n1,
           round(CAST(sx0 AS DOUBLE) / n0 / 100.0, 6) AS mean0,
           round(CAST(sx1 AS DOUBLE) / n1 / 100.0, 6) AS mean1,
           round((CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1)
                 / sqrt(((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                          * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0
                        + ((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                            * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1),
                 6) AS t_welch,
           round(
             (((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0
              + ((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                  * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1)
             * (((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                  * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0
                + ((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                    * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1)
             / ((((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                   * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0)
                * (((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                     * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0)
                / (n0 - 1)
                + (((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                     * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1)
                  * (((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                       * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1)
                  / (n1 - 1)), 4) AS dof_welch
    FROM w
    """,
)
def welch_ttest_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f = o.select(
        (F.col("o_custkey") % 2).cast("int").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cd = F.col("cents").cast("decimal(19,0)")
    s = f.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("sxx"),
    )
    w = s.agg(
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 0, F.col("sx"))).alias("sx0"),
        F.max(F.when(F.col("g") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("g") == 0, F.col("sxx"))).alias("sxx0"),
        F.max(F.when(F.col("g") == 1, F.col("sxx"))).alias("sxx1"),
    )

    def _se2(sx, sxx, n):
        nd = F.col(n).cast("double")
        sxd = F.col(sx).cast("double")
        return (
            (F.col(sxx).cast("double") - sxd * sxd / F.col(n)) / (F.col(n) - 1)
        ) / F.col(n)

    se0 = _se2("sx0", "sxx0", "n0")
    se1 = _se2("sx1", "sxx1", "n1")
    t = (
        F.col("sx0").cast("double") / F.col("n0")
        - F.col("sx1").cast("double") / F.col("n1")
    ) / F.sqrt(se0 + se1)
    dof = (se0 + se1) * (se0 + se1) / (
        se0 * se0 / (F.col("n0") - 1) + se1 * se1 / (F.col("n1") - 1)
    )
    return w.select(
        "n0",
        "n1",
        F.round(F.col("sx0").cast("double") / F.col("n0") / F.lit(100.0), 6).alias(
            "mean0"
        ),
        F.round(F.col("sx1").cast("double") / F.col("n1") / F.lit(100.0), 6).alias(
            "mean1"
        ),
        F.round(t, 6).alias("t_welch"),
        F.round(dof, 4).alias("dof_welch"),
    )


# HLL incremental merge — the sketch-mergeability contract through the
# REAL disk path: batch 1's registers are committed to a
# VersionedParquetTable, batch 2's registers MAX-merge into them, and
# the merged sketch must equal (bucket-for-bucket, hence estimate-for-
# estimate) the sketch built over the full data in one pass.  This is
# the 100 TB pattern for "distinct users to date" without rescanning
# history: state is 2^p integers per group, not the corpus.  The
# oracle recomputes the full-data sketch in SQL (bit-identical by the
# hll_distinct_audit construction) and asserts the merge equality as a
# literal-TRUE verdict.
@query(
    "hll_incremental_merge_audit",
    f"""
    WITH h AS (
      SELECT l_returnflag AS grp,
             CAST(CONCAT('0x', substr(md5('4242:' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS u
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    r AS (
      SELECT grp, u // 4503599627370496 AS bucket,
             MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                      ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
      FROM h GROUP BY 1, 2
    ),
    s AS (
      SELECT grp,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s_used,
             CAST(COUNT(*) AS BIGINT) AS n_used
      FROM r GROUP BY grp
    ),
    est AS (
      SELECT grp, n_used,
             s_used + (256 - n_used) * CAST(9007199254740992 AS BIGINT) AS s_total
      FROM s
    )
    SELECT grp,
           CAST(n_used AS BIGINT) AS n_buckets_used,
           round(CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0
                            * 9007199254740992.0 / CAST(s_total AS DOUBLE)) <= 640.0
                           AND (256 - n_used) > 0
                      THEN 256.0 * ln(256.0 / CAST(256 - n_used AS DOUBLE))
                      ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0
                           * 9007199254740992.0 / CAST(s_total AS DOUBLE)
                 END, 4) AS merged_estimate,
           TRUE AS merge_equals_full
    FROM est ORDER BY grp
    """,
)
def hll_incremental_merge_audit(spark, sf_dir):
    from ..operators.sketch import (
        hll_estimate,
        hll_merge_registers,
        hll_register_maxes,
    )
    from ..sources.table import VersionedParquetTable

    root = _scratch_dir("hll_inc", sf_dir)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_partkey", "l_orderkey"
    )
    b1 = li.filter(F.col("l_orderkey") % 2 == 0)
    b2 = li.filter(F.col("l_orderkey") % 2 == 1)
    t = VersionedParquetTable(spark, root, "hll_registers")
    t.write(hll_register_maxes(b1, ["grp"], "l_partkey"))
    stored = t.read()
    merged = hll_merge_registers(
        stored, hll_register_maxes(b2, ["grp"], "l_partkey"), ["grp"]
    )
    t.write(merged)
    merged_back = t.read()
    full = hll_register_maxes(li, ["grp"], "l_partkey")
    # bucket-for-bucket equality between merged and one-pass registers
    mism = (
        merged_back.withColumnRenamed("mj", "mj_m")
        .join(full.withColumnRenamed("mj", "mj_f"), ["grp", "bucket"], "full")
        .filter(
            F.col("mj_m").isNull()
            | F.col("mj_f").isNull()
            | (F.col("mj_m") != F.col("mj_f"))
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    est = hll_estimate(merged_back, ["grp"])
    used = merged_back.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used")
    )
    out = (
        est.join(used, "grp")
        .join(mism, "grp", "left")
        .select(
            "grp",
            "n_buckets_used",
            F.col("hll_estimate").alias("merged_estimate"),
            F.coalesce("n_mismatch", F.lit(0)).eqNullSafe(0).alias(
                "merge_equals_full"
            ),
        )
        .orderBy("grp")
    )
    return _finish_scratch(out, root)


# Kruskal-Wallis H — the k-group generalization of the rank-sum test
# (do the three return-flag populations ship different quantities?):
# H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1), tie-corrected by
# 1 − Σ(t³−t)/(N³−N).  Midranks stay exact integers as 2·rank (the
# mannwhitney discipline); group rank-sums, tie cubes, and counts are
# exact bigints, so H and its correction are each one shared double
# expression.  The window runs over the ~50-distinct-value aggregate,
# never the fact rows — flat at 100 TB.
@query(
    "kruskal_wallis_lineitem",
    """
    WITH f AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(18,4)) AS q
      FROM lineitem
    ),
    v AS (
      SELECT q, g, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY q, g
    ),
    t AS (
      SELECT q, CAST(SUM(c) AS BIGINT) AS ct FROM v GROUP BY q
    ),
    w AS (
      SELECT t.q, t.ct,
             COALESCE(SUM(t.ct) OVER (ORDER BY t.q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM t
    ),
    r AS (
      SELECT v.g,
             CAST(SUM(v.c) AS BIGINT) AS n_g,
             CAST(SUM(v.c * (2 * w.cb + w.ct + 1)) AS BIGINT) AS r_x2
      FROM v JOIN w ON v.q = w.q GROUP BY v.g
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             (SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) FROM t) AS tie3
      FROM r
    ),
    h AS (
      SELECT CAST(SUM(CAST(r_x2 AS DOUBLE) * r_x2 / 4.0 / n_g) AS DOUBLE) AS s
      FROM r
    )
    SELECT tot.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_groups,
           round((12.0 / (CAST(tot.n AS DOUBLE) * (tot.n + 1)) * h.s
                  - 3.0 * (tot.n + 1))
                 / (1.0 - CAST(tot.tie3 AS DOUBLE)
                          / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)),
                 6) AS h_corrected
    FROM tot CROSS JOIN h
    """,
)
def kruskal_wallis_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    f = li.select(F.col("l_returnflag").alias("g"), _dec("l_quantity").alias("q"))
    v = f.groupBy("q", "g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    t = v.groupBy("q").agg(F.sum("c").cast("bigint").alias("ct"))
    wspec = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    w = t.withColumn("cb", F.coalesce(F.sum("ct").over(wspec), F.lit(0)))
    r = (
        v.join(w, "q")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * (F.lit(2) * F.col("cb") + F.col("ct") + 1))
            .cast("bigint")
            .alias("r_x2"),
        )
    )
    tie3 = t.agg(
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("bigint")
        .alias("tie3")
    )
    tot = r.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    h = r.agg(
        F.sum(
            F.col("r_x2").cast("double") * F.col("r_x2") / F.lit(4.0) / F.col("n_g")
        ).alias("s")
    )
    nd = F.col("n").cast("double")
    stat = (
        F.lit(12.0) / (nd * (F.col("n") + 1)) * F.col("s")
        - F.lit(3.0) * (F.col("n") + 1)
    ) / (
        F.lit(1.0)
        - F.col("tie3").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
    )
    return (
        tot.crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(tie3))
        .select("n", "n_groups", F.round(stat, 6).alias("h_corrected"))
    )


# ===========================================================================
# Round-5 wave 11h: temperature mixing weights, robust trimmed mean,
# drawdown analytics.


# Temperature-scaled mixture weights — the multilingual/multi-source
# sampling recipe (w_s ∝ n_s^τ, τ=0.7 the multilingual-LM standard):
# flattens the source distribution so head sources stop dominating
# while tail sources stay sub-epsilon.  pow/normalize are shared
# double expressions over exact per-source token counts; the output
# carries before/after shares and the implied per-epoch token draw.
# Catalog-sized throughout (one corpus scan → |sources| rows).
@query(
    "temperature_mixture_weights_docs",
    """
    WITH s AS (
      SELECT source,
             CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
             SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS z
      FROM s
    )
    SELECT s.source, s.n_tokens,
           round(CAST(s.n_tokens AS DOUBLE) / t.total, 6) AS raw_share,
           round(pow(CAST(s.n_tokens AS DOUBLE), 0.7) / t.z, 6) AS temp_share,
           CAST(round(pow(CAST(s.n_tokens AS DOUBLE), 0.7) / t.z
                      * 1000000.0) AS BIGINT) AS tokens_per_million
    FROM s CROSS JOIN t ORDER BY s.source
    """,
)
def temperature_mixture_weights_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text")))
        .cast("bigint")
        .alias("n_tokens")
    )
    nd = F.col("n_tokens").cast("double")
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.sum(F.pow(nd, F.lit(0.7))).alias("z"),
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_tokens",
            F.round(nd / F.col("total"), 6).alias("raw_share"),
            F.round(F.pow(nd, F.lit(0.7)) / F.col("z"), 6).alias("temp_share"),
            F.round(F.pow(nd, F.lit(0.7)) / F.col("z") * F.lit(1000000.0))
            .cast("bigint")
            .alias("tokens_per_million"),
        )
        .orderBy("source")
    )


# Exact 10%-trimmed mean — the robust location estimate between the
# mean (outlier-fragile) and median (throws away 98% of the data).
# Rank-free formulation over the VALUE-LEVEL aggregate: with k = ⌊N/10⌋
# rows trimmed from each tail, a value's surviving multiplicity is
# clamp(min(cum, N−k) − max(cum_before, k), 0, c) — pure integer
# arithmetic on the ~50-value frame, then one exact decimal weighted
# sum.  The only corpus-sized work is the value-count aggregate.
@query(
    "trimmed_mean_lineitem",
    """
    WITH v AS (
      SELECT CAST(l_quantity AS DECIMAL(18,4)) AS q,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    w AS (
      SELECT q, c,
             COALESCE(SUM(c) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM v
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c) // 10 AS BIGINT) AS k
          FROM v),
    kept AS (
      SELECT w.q,
             GREATEST(LEAST(w.cb + w.c, n.n - n.k)
                      - GREATEST(w.cb, n.k), 0) AS keep_c
      FROM w CROSS JOIN n
    )
    SELECT (SELECT n FROM n) AS n_rows,
           (SELECT k FROM n) AS n_trimmed_each_tail,
           CAST(SUM(keep_c) AS BIGINT) AS n_kept,
           round(CAST(SUM(keep_c * CAST(q * 10000 AS BIGINT)) AS DOUBLE) / 10000.0
                 / SUM(keep_c), 6) AS trimmed_mean
    FROM kept
    """,
)
def trimmed_mean_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    v = li.groupBy(_dec("l_quantity").alias("q")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wspec = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    w = v.withColumn("cb", F.coalesce(F.sum("c").over(wspec), F.lit(0)))
    n = v.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.expr("CAST(SUM(c) div 10 AS BIGINT)").alias("k"),
    )
    kept = w.crossJoin(F.broadcast(n)).select(
        "q",
        "n",
        "k",
        F.greatest(
            F.least(F.col("cb") + F.col("c"), F.col("n") - F.col("k"))
            - F.greatest(F.col("cb"), F.col("k")),
            F.lit(0),
        ).alias("keep_c"),
    )
    # rule #6: Σ keep_c·q as exact int64 1e-4 units (quantity ≤ 50 →
    # the sum fits int64 past 10^12 rows), ONE shared double division.
    return kept.groupBy("n", "k").agg(
        F.sum("keep_c").cast("bigint").alias("n_kept"),
        F.round(
            F.sum(
                F.col("keep_c") * (F.col("q") * F.lit(10000)).cast("long")
            ).cast("double")
            / F.lit(10000.0)
            / F.sum("keep_c"),
            6,
        ).alias("trimmed_mean"),
    ).select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("n_trimmed_each_tail"),
        "n_kept",
        "trimmed_mean",
    )


# Maximum drawdown of cumulative daily purchase revenue — the
# risk/anomaly read of a cumulative series: the deepest peak-to-trough
# drop, its depth as a share of the peak, and both dates.  Exact
# integer cents end to end: the running cumulative and running peak
# are integer window maxima over the calendar-bounded daily series,
# the drawdown argmax is a deterministic (depth DESC, day) pick —
# floats appear only in the final rounded ratio.
@query(
    "max_drawdown_daily_revenue",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    c AS (
      SELECT day,
             CAST(SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    ),
    p AS (
      SELECT day, cum,
             CAST(MAX(cum) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
      FROM c
    ),
    dd AS (
      SELECT day, cum, peak, peak - cum AS draw,
             ROW_NUMBER() OVER (ORDER BY peak - cum DESC, day) AS rn
      FROM p
    )
    SELECT CAST(day AS VARCHAR) AS trough_day,
           cum AS trough_cents, peak AS peak_cents, draw AS drawdown_cents,
           round(CAST(draw AS DOUBLE) / peak, 6) AS drawdown_share
    FROM dd WHERE rn = 1
    """,
)
def max_drawdown_daily_revenue(spark, sf_dir):
    e = _events(spark, sf_dir)
    d = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = d.select(
        "day",
        F.sum("cents").over(wc).cast("bigint").alias("cum"),
    ).select(
        "day",
        "cum",
        F.max("cum").over(wc).cast("bigint").alias("peak"),
    )
    wr = Window.orderBy(F.desc(F.col("peak") - F.col("cum")), F.asc("day"))
    return (
        p.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").cast("string").alias("trough_day"),
            F.col("cum").alias("trough_cents"),
            F.col("peak").alias("peak_cents"),
            (F.col("peak") - F.col("cum")).alias("drawdown_cents"),
            F.round(
                (F.col("peak") - F.col("cum")).cast("double") / F.col("peak"), 6
            ).alias("drawdown_share"),
        )
    )


# ===========================================================================
# Round-6 wave 12: real audio decode (driver-checkable), SimHash banded
# near-dup join, HLL rollup lattice, cross-source near-dup leakage,
# RANGE-interval window frames, U-shaped attribution.


# Audio decode stats — the WAV/PCM twin of mixed_media_decode_stats:
# clips are synthesized DETERMINISTICALLY from doc_id (n samples and the
# integer sample pattern are modular functions of doc_id), encoded as
# real RIFF/WAVE bytes, and decoded by the repo's chunk-walking parser
# (operators/multimodal.py decode_wav) through Arrow-batched
# mapInPandas.  The DuckDB oracle recomputes every stat in closed form
# WITHOUT decoding.  FP parity is EXACT by construction: samples are
# int16, so x² = s²/2³⁰ and every numpy partial sum is an integer/2³⁰
# < 2⁵³ (no rounding at any addition); mean = one correctly-rounded
# division; sqrt is correctly-rounded IEEE; and /32768 (a power of two)
# commutes exactly with rounding — so rms/peak/duration are
# bit-identical cross-engine with NO round() safety net.
@query(
    "audio_decode_stats",
    """
    WITH d AS (
      SELECT doc_id, CAST(160 + (doc_id % 7) * 40 AS BIGINT) AS n
      FROM documents WHERE doc_id % 19 = 0
    ),
    s AS (
      SELECT d.doc_id, d.n,
             ((d.doc_id * 7 + i.i * 13) % 4096) - 2048 AS s
      FROM d, LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i
    ),
    a AS (
      SELECT doc_id, MAX(n) AS n,
             CAST(SUM(s * s) AS BIGINT) AS ss,
             CAST(MAX(ABS(s)) AS BIGINT) AS pk
      FROM s GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           n AS n_samples,
           CAST(n AS DOUBLE) / 16000.0 AS duration_s,
           sqrt(CAST(ss AS DOUBLE) / n) / 32768.0 AS rms,
           CAST(pk AS DOUBLE) / 32768.0 AS peak
    FROM a ORDER BY doc_id
    """,
)
def audio_decode_stats(spark, sf_dir):
    import pandas as pd

    from ..operators.multimodal import audio_stats, encode_wav

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 19 == 0).select(
        "doc_id"
    )

    def synth(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 160 + (d % 7) * 40
                idx = np.arange(n, dtype=np.int64)
                samples = ((d * 7 + idx * 13) % 4096 - 2048).astype(np.int16)
                payloads.append(encode_wav(samples, 16000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(synth, schema="doc_id long, content binary")
    return audio_stats(media).orderBy("doc_id")


# SimHash banded near-dup join — the Hamming-space member of the dedup
# family (exact: dedup_exact; set-based: MinHash-LSH + Jaccard prefix;
# vector: embedding cosine; THIS: bit-signature).  32-bit signatures
# band into 4×8 bits; candidate pairs share ≥1 band value, verified by
# exact Hamming distance ≤ 3.  The banding is LOSSLESS here by
# pigeonhole: two signatures ≤ 3 bits apart differ in at most 3 of the
# 4 bands, so at least one band matches — recall 1.0 at the verify
# threshold, unlike MinHash's probabilistic S-curve.  Everything is
# integer (md5-derived hashes, bit votes, popcount), so the pair list
# is hash-exact cross-engine.  Scale shape: bucket join on (band,
# value), never all-pairs; bucket sizes concentrate near corpus/256
# per band.  OUTPUT LAW (16× probe: 33.7×): like
# jaccard_prefix_join_docs, m sig-identical replicas emit m(m−1)/2
# true pairs — the work is proportional to the EMITTED pairs, not a
# plan defect; the production path is simhash_hamming_pairs_collapsed
# below (collapse sig-identical docs to representatives first — the
# same ``collapse_exact`` discipline, re-probed ~1× at 16×).
@query(
    "simhash_hamming_pairs",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT) AS th
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.range AS bit,
             SUM(CASE WHEN (th >> CAST(b.range AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM h, range(0, 32) b
      GROUP BY doc_id, b.range
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0
                           THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sig, b.range AS band,
             (sig >> CAST(b.range * 8 AS INTEGER)) & 255 AS bval
      FROM sig, range(0, 4) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def simhash_hamming_pairs(spark, sf_dir):
    from ..operators.dedup import simhash

    sigs = simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=32)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(4)])
        ).alias("band"),
    ).select(
        "doc_id",
        "simhash",
        "band",
        # shiftright's bit count must be a column here (band varies per
        # row), which the DSL helper rejects — SQL-expression form
        F.expr("shiftright(simhash, band * 8)").bitwiseAND(F.lit(255)).alias("bval"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "band",
        "bval",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "band",
        "bval",
    )
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.filter(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# The PRODUCTION simhash path: signature-identical documents collapse
# to their min-id representative (with multiplicity) BEFORE the banded
# join — the ``collapse_exact`` discipline from jaccard_prefix_join:
# m replicas of a document contribute ONE row to the pairwise stage
# instead of m(m−1)/2 output pairs, so corpus duplication multiplies
# cost linearly, not quadratically (16× probe: the uncollapsed twin
# measures 33.7×, this re-probes ~1×).  Output is representative
# pairs with group multiplicities — enough to reconstruct every
# doc-level pair without materializing them.
@query(
    "simhash_hamming_pairs_collapsed",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT) AS th
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.range AS bit,
             SUM(CASE WHEN (th >> CAST(b.range AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM h, range(0, 32) b
      GROUP BY doc_id, b.range
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0
                           THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ),
    reps AS (
      SELECT sig, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS mult
      FROM sig GROUP BY sig
    ),
    banded AS (
      SELECT rep, sig, mult, b.range AS band,
             (sig >> CAST(b.range * 8 AS INTEGER)) & 255 AS bval
      FROM reps, range(0, 4) b
    ),
    cand AS (
      SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
             a.sig AS sig_a, b.sig AS sig_b,
             a.mult AS mult_a, b.mult AS mult_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bval = b.bval AND a.rep < b.rep
    )
    SELECT rep_a, rep_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming,
           mult_a, mult_b,
           CAST(mult_a * mult_b AS BIGINT) AS n_doc_pairs
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    ORDER BY rep_a, rep_b
    """,
)
def simhash_hamming_pairs_collapsed(spark, sf_dir):
    from ..operators.dedup import simhash

    sigs = simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=32)
    reps = sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).cast("bigint").alias("mult")
    )
    bands = reps.select(
        "rep",
        "simhash",
        "mult",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).select(
        "rep",
        "simhash",
        "mult",
        "band",
        F.expr("shiftright(simhash, band * 8)").bitwiseAND(F.lit(255)).alias("bval"),
    )
    a = bands.select(
        F.col("rep").alias("rep_a"),
        F.col("simhash").alias("sig_a"),
        F.col("mult").alias("mult_a"),
        "band",
        "bval",
    )
    b = bands.select(
        F.col("rep").alias("rep_b"),
        F.col("simhash").alias("sig_b"),
        F.col("mult").alias("mult_b"),
        "band",
        "bval",
    )
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", "sig_a", "sig_b", "mult_a", "mult_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.filter(hamming <= 3)
        .select(
            "rep_a",
            "rep_b",
            hamming.cast("int").alias("hamming"),
            "mult_a",
            "mult_b",
            (F.col("mult_a") * F.col("mult_b")).cast("bigint").alias("n_doc_pairs"),
        )
        .orderBy("rep_a", "rep_b")
    )


# HLL rollup lattice — the property that makes register sketches THE
# distinct-count structure for cubes at 100 TB: registers built at the
# FINE grain (event_type × weekday) and MAX-merged up to event_type are
# BIT-IDENTICAL to registers built directly at the coarse grain
# (max-of-max — merge commutes with grouping), so one fine-grain
# register table serves every level of the rollup without rescanning
# the facts.  Emitted per event_type: the direct estimate, the merged
# estimate (equal by construction, asserted as a hash-checked boolean),
# and the exact distinct.  Integer-exact cross-engine like
# hll_distinct_audit (same md5 family / bigint harmonic sum).
@query(
    "hll_rollup_lattice",
    f"""
    WITH h AS (
      SELECT event_type,
             isodow(ts) - 1 AS dow,
             CAST(CONCAT('0x', substr(md5('4242:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
      FROM events WHERE user_id IS NOT NULL
    ),
    r_fine AS (
      SELECT event_type, dow, u // 4503599627370496 AS bucket,
             MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                      ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
      FROM h GROUP BY 1, 2, 3
    ),
    r_merged AS (
      SELECT event_type, bucket, MAX(mj) AS mj
      FROM r_fine GROUP BY 1, 2
    ),
    r_direct AS (
      SELECT event_type, u // 4503599627370496 AS bucket,
             MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                      ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
      FROM h GROUP BY 1, 2
    ),
    est_m AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
               + (256 - CAST(COUNT(*) AS BIGINT)) * CAST(9007199254740992 AS BIGINT) AS s_total,
             CAST(COUNT(*) AS BIGINT) AS n_used
      FROM r_merged GROUP BY 1
    ),
    est_d AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
               + (256 - CAST(COUNT(*) AS BIGINT)) * CAST(9007199254740992 AS BIGINT) AS s_total,
             CAST(COUNT(*) AS BIGINT) AS n_used
      FROM r_direct GROUP BY 1
    ),
    ev AS (
      SELECT m.event_type,
             CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                        / CAST(m.s_total AS DOUBLE)) <= 640.0
                       AND (256 - m.n_used) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - m.n_used AS DOUBLE))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                       / CAST(m.s_total AS DOUBLE)
             END AS est_merged,
             CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                        / CAST(d.s_total AS DOUBLE)) <= 640.0
                       AND (256 - d.n_used) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - d.n_used AS DOUBLE))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                       / CAST(d.s_total AS DOUBLE)
             END AS est_direct
      FROM est_m m JOIN est_d d ON m.event_type = d.event_type
    ),
    x AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT x.event_type,
           round(ev.est_merged, 4) AS est_merged,
           round(ev.est_direct, 4) AS est_direct,
           ev.est_merged = ev.est_direct AS merge_exact,
           x.exact_distinct
    FROM x JOIN ev ON x.event_type = ev.event_type
    ORDER BY x.event_type
    """,
)
def hll_rollup_lattice(spark, sf_dir):
    from ..operators.sketch import hll_estimate, hll_register_maxes

    e = _events(spark, sf_dir).select(
        "event_type", F.weekday("ts").alias("dow"), "user_id"
    )
    r_fine = hll_register_maxes(e, ["event_type", "dow"], "user_id")
    r_merged = r_fine.groupBy("event_type", "bucket").agg(F.max("mj").alias("mj"))
    r_direct = hll_register_maxes(e, ["event_type"], "user_id")
    est_m = hll_estimate(r_merged, ["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("est_merged")
    )
    est_d = hll_estimate(r_direct, ["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("est_direct")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return (
        exact.join(est_m, "event_type")
        .join(est_d, "event_type")
        .select(
            "event_type",
            "est_merged",
            "est_direct",
            (F.col("est_merged") == F.col("est_direct")).alias("merge_exact"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


# Cross-source near-dup leakage matrix — which source pairs share
# near-duplicate content (mirror sites, syndication, benchmark leakage
# between corpus slices)?  Pure composition over the committed CC
# labels (the content-keyed cache shared with neardup_clusters): labels
# ⋈ documents.source → distinct (cluster, source) → source-pair
# co-occurrence counts.  source_a = source_b rows count within-source
# duplication; off-diagonal rows are the cross-source leakage that
# train/test splits must respect.  The oracle replays the full
# MinHash-LSH + recursive-CTE pipeline.
@query(
    "neardup_source_matrix",
    f"""
    WITH RECURSIVE {{corpus}},
    sig AS (
      SELECT doc_id,
        {{sig}} AS sig
      FROM sh
    ),
    banded AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(sig[b.range*3+1 : b.range*3+3], '|')) AS band_sig
      FROM sig, range(0, 4) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ),
    labels AS (SELECT n AS node, MIN(m) AS cluster FROM reach GROUP BY n),
    cs AS (
      SELECT DISTINCT l.cluster, d.source
      FROM labels l JOIN documents d ON l.node = d.doc_id
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM cs a JOIN cs b ON a.cluster = b.cluster AND a.source <= b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """.format(corpus=_MINHASH_CORPUS_SQL, sig=_MINHASH_SIG_SQL),
)
def neardup_source_matrix(spark, sf_dir):
    labels = _neardup_labels_cached(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    cs = (
        labels.join(docs, labels.node == docs.doc_id)
        .select("cluster", "source")
        .distinct()
    )
    a = cs.select(F.col("cluster"), F.col("source").alias("source_a"))
    b = cs.select(F.col("cluster").alias("cl_b"), F.col("source").alias("source_b"))
    return (
        a.join(b, (F.col("cluster") == F.col("cl_b")) & (F.col("source_a") <= F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .orderBy("source_a", "source_b")
    )


# RANGE-interval window frames — the time-based rolling total (7-day
# trailing revenue per nation) that ROWS frames cannot express when
# days are missing: RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over the
# day NUMBER includes exactly the trailing calendar week regardless of
# gaps.  The window runs over the per-(nation, day) AGGREGATE (25
# nations × 1 year of days), never the fact rows — the calendar-bounded
# post-aggregation shape the plan-gate policy allows; money stays
# integer cents end to end.
@query(
    "rolling_revenue_range_frame",
    """
    WITH daily AS (
      SELECT n_name AS nation, o_orderdate AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      GROUP BY 1, 2
    )
    SELECT nation, day, cents,
           CAST(SUM(cents) OVER (
             PARTITION BY nation
             ORDER BY date_diff('day', DATE '1995-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_cents_7d
    FROM daily ORDER BY nation, day
    """,
)
def rolling_revenue_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("nation")
        .orderBy(F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "nation",
        "day",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("rolling_cents_7d"),
    ).orderBy("nation", "day")


# U-shaped (position-based) multi-touch attribution — 40% of the
# purchase value to the first touch, 40% to the last, 20% split across
# the middles (k=1 → 100%, k=2 → 50/50): the standard compromise
# between last-touch (recency-biased) and linear (dilutes intent).
# Same chunk-join discipline as attribution_linear (purchases explode
# into 8 candidate days, equi-join on (user, day) — never a θ-range
# join); clicks pre-dedup to one row per (user, ts) with a
# deterministic channel tie-break so positions are well-defined.
# FP parity: per-(channel, k, position-class) cells carry EXACT decimal
# value sums; basis points are integers except the one shared
# mid-credit division, and the final per-channel sum is a ≤|cells|-term
# double sum absorbed by round-4.
@query(
    "attribution_position_events",
    """
    WITH purch AS (
      SELECT event_id, user_id, ts, CAST(value AS DECIMAL(18,4)) AS value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks0 AS (
      SELECT user_id, ts AS click_ts,
             MAX(CASE CAST(json_extract_string(props, '$.k')::BIGINT % 3 AS INT)
               WHEN 0 THEN 'search' WHEN 1 THEN 'social' ELSE 'email' END) AS channel
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    pairs AS (
      SELECT p.event_id, p.value, c.channel, c.click_ts
      FROM purch p JOIN clicks0 c
        ON p.user_id = c.user_id
      WHERE c.click_ts <= p.ts AND c.click_ts >= p.ts - INTERVAL 7 DAY
    ),
    pos AS (
      SELECT event_id, value, channel,
             row_number() OVER (PARTITION BY event_id ORDER BY click_ts) AS rn,
             COUNT(*) OVER (PARTITION BY event_id) AS k
      FROM pairs
    ),
    cells AS (
      SELECT channel, k,
             CASE WHEN rn = 1 OR rn = k THEN 'end' ELSE 'mid' END AS cls,
             CAST(COUNT(*) AS BIGINT) AS n_touches,
             SUM(value) AS sv
      FROM pos GROUP BY 1, 2, 3
    )
    SELECT channel,
           CAST(SUM(n_touches) AS BIGINT) AS n_touches,
           round(SUM(CAST(sv AS DOUBLE)
                     * (CASE WHEN cls = 'end' THEN
                          CASE WHEN k = 1 THEN 10000.0 WHEN k = 2 THEN 5000.0
                               ELSE 4000.0 END
                        ELSE 2000.0 / (k - 2) END) / 10000.0), 4)
             AS credited_revenue
    FROM cells GROUP BY channel ORDER BY channel
    """,
)
def attribution_position_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", _dec("value").alias("value")
    )
    ch = (
        F.when(F.get_json_object("props", "$.k").cast("bigint") % 3 == 0, F.lit("search"))
        .when(F.get_json_object("props", "$.k").cast("bigint") % 3 == 1, F.lit("social"))
        .otherwise(F.lit("email"))
    )
    clicks0 = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), ch.alias("channel"))
        .groupBy("user_id", "click_ts")
        .agg(F.max("channel").alias("channel"))
    )
    pday = F.to_date("ts")
    px = purch.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.explode(F.sequence(F.date_sub(pday, 7), pday)).alias("d"),
    )
    cx = clicks0.withColumn("d", F.to_date("click_ts"))
    pairs = (
        px.join(cx, ["user_id", "d"])
        .filter(
            (F.col("click_ts") <= F.col("ts"))
            & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"))
        )
        .select("event_id", "value", "channel", "click_ts")
    )
    wp = Window.partitionBy("event_id")
    pos = pairs.select(
        "event_id",
        "value",
        "channel",
        F.row_number().over(wp.orderBy("click_ts")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("k"),
    )
    cells = pos.select(
        "channel",
        "k",
        F.when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit("end"))
        .otherwise(F.lit("mid"))
        .alias("cls"),
        "value",
    ).groupBy("channel", "k", "cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("value").alias("sv"),
    )
    bp = F.when(
        F.col("cls") == "end",
        F.when(F.col("k") == 1, F.lit(10000.0))
        .when(F.col("k") == 2, F.lit(5000.0))
        .otherwise(F.lit(4000.0)),
    ).otherwise(F.lit(2000.0) / (F.col("k") - 2))
    return (
        cells.groupBy("channel")
        .agg(
            F.sum("n_touches").cast("bigint").alias("n_touches"),
            F.round(
                F.sum(F.col("sv").cast("double") * bp / F.lit(10000.0)), 4
            ).alias("credited_revenue"),
        )
        .orderBy("channel")
    )


# ===========================================================================
# Round-6 wave 13: vocab-growth law, labeled triplet mining, dedup
# token-loss accounting, k-anonymity governance, packing efficiency.


# Heaps'-law vocabulary growth — V(N) ≈ K·N^β, the tokenizer-sizing /
# corpus-diversity curve: how fast does the type count grow as the
# corpus is consumed in ingestion order?  Ten value-based checkpoints
# (doc_id ≤ max_id·k/10 — integer arithmetic, no global rank needed);
# per checkpoint the cumulative token count and the cumulative TYPE
# count via each type's FIRST-occurrence doc (min doc_id per token —
# one vocabulary-sized frame, the corpus is scanned once).  β is the
# log-log OLS slope over the 10 points: ln only under round-6 on
# values (the ln-discipline), sums in exact decimal, ONE shared double
# expression for the slope.
@query(
    "heaps_law_vocab_growth",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    fd AS (SELECT t, MIN(doc_id) AS first_doc FROM toks GROUP BY t),
    nt AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents
    ),
    mx AS (SELECT MAX(doc_id) AS mid FROM documents),
    cps AS (
      SELECT k.range + 1 AS k, (mx.mid * (k.range + 1)) // 10 AS cp
      FROM range(0, 10) k CROSS JOIN mx
    ),
    pts AS (
      SELECT c.k,
             COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM nt WHERE doc_id <= c.cp), 0) AS cum_tokens,
             COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM fd WHERE first_doc <= c.cp), 0) AS cum_types
      FROM cps c
    ),
    xy AS (
      SELECT k, cum_tokens, cum_types,
             CASE WHEN cum_tokens > 0
                  THEN CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) END AS x,
             CASE WHEN cum_types > 0
                  THEN CAST(round(ln(CAST(cum_types AS DOUBLE)), 6) AS DECIMAL(18,6)) END AS y
      FROM pts
    ),
    s AS (
      SELECT CAST(COUNT(x) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM xy
    )
    SELECT xy.k, xy.cum_tokens, xy.cum_types,
           round((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                  - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                 / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                    - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)), 6) AS heaps_beta
    FROM xy CROSS JOIN s ORDER BY xy.k
    """,
)
def heaps_law_vocab_growth(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    fd = toks.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    nt = d.select(
        "doc_id", token_count_ws(F.col("text")).alias("n")
    )
    mx = d.agg(F.max("doc_id").alias("mid"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    cps = F.broadcast(
        ks.crossJoin(F.broadcast(mx)).select(
            "k", F.expr("mid * k div 10").alias("cp")
        )
    )
    v = (
        fd.crossJoin(cps)
        .filter(F.col("first_doc") <= F.col("cp"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cum_types"))
    )
    n = (
        nt.crossJoin(cps)
        .filter(F.col("doc_id") <= F.col("cp"))
        .groupBy("k")
        .agg(F.sum("n").cast("bigint").alias("cum_tokens"))
    )
    # Drive the point set from the checkpoint frame itself with LEFT
    # joins (ADVICE r6): a checkpoint that precedes every doc_id must
    # still emit its k row (cum = 0) exactly like the oracle's
    # correlated subqueries, not vanish through an inner join.  The
    # ln() is guarded by cum > 0 in BOTH engines (Spark log(0) is NULL
    # while DuckDB ln(0) is -inf — the guard keeps the degenerate row
    # NULL on both sides), and the OLS n counts non-NULL points.
    xy = (
        cps.select("k")
        .join(n, "k", "left")
        .join(v, "k", "left")
        .select(
            "k",
            F.coalesce("cum_tokens", F.lit(0)).cast("bigint").alias("cum_tokens"),
            F.coalesce("cum_types", F.lit(0)).cast("bigint").alias("cum_types"),
        )
        .select(
            "k",
            "cum_tokens",
            "cum_types",
            F.when(
                F.col("cum_tokens") > 0,
                F.round(F.log(F.col("cum_tokens").cast("double")), 6).cast(
                    "decimal(18,6)"
                ),
            ).alias("x"),
            F.when(
                F.col("cum_types") > 0,
                F.round(F.log(F.col("cum_types").cast("double")), 6).cast(
                    "decimal(18,6)"
                ),
            ).alias("y"),
        )
    )
    s = xy.agg(
        F.count("x").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = F.round(
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ),
        6,
    )
    return (
        xy.crossJoin(F.broadcast(s))
        .select("k", "cum_tokens", "cum_types", slope.alias("heaps_beta"))
        .orderBy("k")
    )


# Hard triplet mining over LABELED embeddings — the contrastive-training
# data op (anchor, hardest positive, hardest negative): per anchor, the
# same-label neighbor with the highest dot product and the
# different-label neighbor with the highest dot product (the negatives
# that actually move the loss).  Ranking happens on ROUND-6 scores with
# a vec_id tie-break (the cosine_topk discipline), so order is
# engine-identical; margin_ok flags anchors whose hardest negative
# already scores above the hardest positive (the pairs a margin loss
# would fight over).  Scale shape: 5 broadcast anchors × corpus — one
# scan, no self-join.
@query(
    "triplet_mining_embeddings",
    """
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS qv, label AS alabel
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    scored AS (
      SELECT a.anchor_id, a.alabel, e.vec_id, e.label AS clabel,
             round(list_dot_product(a.qv, e.embedding::DOUBLE[]), 6) AS score
      FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id
    ),
    pos AS (
      SELECT anchor_id, alabel, vec_id AS pos_id, score AS pos_score FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY score DESC, vec_id) AS rn
        FROM scored WHERE clabel = alabel
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT anchor_id, vec_id AS neg_id, score AS neg_score FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY score DESC, vec_id) AS rn
        FROM scored WHERE clabel <> alabel
      ) WHERE rn = 1
    )
    SELECT p.anchor_id, p.alabel AS anchor_label,
           p.pos_id, p.pos_score, n.neg_id, n.neg_score,
           round(p.pos_score - n.neg_score, 6) AS margin,
           p.pos_score > n.neg_score AS margin_ok
    FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
    ORDER BY p.anchor_id
    """,
)
def triplet_mining_embeddings(spark, sf_dir):
    from ..operators.similarity import dot_codegen

    e = _t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("alabel"),
    )
    c = e.select(
        F.col("vec_id"), F.col("embedding").alias("cv"), F.col("label").alias("clabel")
    )
    scored = (
        F.broadcast(a)
        .join(c, F.col("anchor_id") != F.col("vec_id"))
        .select(
            "anchor_id",
            "alabel",
            "vec_id",
            "clabel",
            F.round(dot_codegen("qv", "cv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("score"), F.asc("vec_id"))
    pos = (
        scored.filter(F.col("clabel") == F.col("alabel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            "alabel",
            F.col("vec_id").alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    neg = (
        scored.filter(F.col("clabel") != F.col("alabel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
        )
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            F.col("alabel").alias("anchor_label"),
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            F.round(F.col("pos_score") - F.col("neg_score"), 6).alias("margin"),
            (F.col("pos_score") > F.col("neg_score")).alias("margin_ok"),
        )
        .orderBy("anchor_id")
    )


# Dedup token-loss accounting — what each dedup stage would COST per
# source, in documents and tokens: exact duplicates (md5(text) groups,
# min-id canonical) and near-duplicates (the committed MinHash-CC
# labels, min-id canonical), reported independently plus their union
# (a doc can be both).  This is the budget sheet a corpus owner reads
# before pulling the trigger — dedup_keep_canonical materializes the
# survivors; this prices the removal.  The oracle replays both stages.
@query(
    "dedup_token_loss_report",
    f"""
    WITH RECURSIVE {{corpus}},
    sig AS (
      SELECT doc_id,
        {{sig}} AS sig
      FROM sh
    ),
    banded AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(sig[b.range*3+1 : b.range*3+3], '|')) AS band_sig
      FROM sig, range(0, 4) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ),
    labels AS (SELECT n AS node, MIN(m) AS cluster FROM reach GROUP BY n),
    base AS (
      SELECT doc_id, source,
             len(string_split(lower(text), ' ')) AS n_tok,
             md5(text) AS fp
      FROM documents
    ),
    canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM base GROUP BY fp),
    flags AS (
      SELECT b.doc_id, b.source, b.n_tok,
             (b.doc_id <> c.keep_id) AS exact_loser,
             COALESCE(l.node <> l.cluster, FALSE) AS near_loser
      FROM base b
      JOIN canon c ON b.fp = c.fp
      LEFT JOIN labels l ON l.node = b.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN exact_loser THEN 1 ELSE 0 END) AS BIGINT) AS exact_removed_docs,
           CAST(SUM(CASE WHEN exact_loser THEN n_tok ELSE 0 END) AS BIGINT) AS exact_removed_tokens,
           CAST(SUM(CASE WHEN near_loser THEN 1 ELSE 0 END) AS BIGINT) AS neardup_removed_docs,
           CAST(SUM(CASE WHEN near_loser THEN n_tok ELSE 0 END) AS BIGINT) AS neardup_removed_tokens,
           CAST(SUM(CASE WHEN exact_loser OR near_loser THEN 1 ELSE 0 END) AS BIGINT) AS union_removed_docs,
           CAST(SUM(CASE WHEN exact_loser OR near_loser THEN n_tok ELSE 0 END) AS BIGINT) AS union_removed_tokens,
           round(CAST(SUM(CASE WHEN exact_loser OR near_loser THEN n_tok ELSE 0 END) AS DOUBLE)
                 / SUM(n_tok), 6) AS pct_tokens_removed
    FROM flags GROUP BY source ORDER BY source
    """.format(corpus=_MINHASH_CORPUS_SQL, sig=_MINHASH_SIG_SQL),
)
def dedup_token_loss_report(spark, sf_dir):
    labels = _neardup_labels_cached(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count_ws(F.col("text")).alias("n_tok"),
        F.md5("text").alias("fp"),
    )
    canon = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    losers_near = labels.filter(F.col("node") != F.col("cluster")).select(
        F.col("node"), F.lit(True).alias("near_loser")
    )
    flags = (
        d.join(canon, "fp")
        .join(F.broadcast(losers_near), d.doc_id == F.col("node"), "left")
        .select(
            "source",
            "n_tok",
            (F.col("doc_id") != F.col("keep_id")).alias("exact_loser"),
            F.coalesce(F.col("near_loser"), F.lit(False)).alias("near_loser"),
        )
    )
    one = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    tok = lambda c: F.when(c, F.col("n_tok")).otherwise(0)  # noqa: E731
    u = F.col("exact_loser") | F.col("near_loser")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(one(F.col("exact_loser"))).cast("bigint").alias("exact_removed_docs"),
            F.sum(tok(F.col("exact_loser"))).cast("bigint").alias("exact_removed_tokens"),
            F.sum(one(F.col("near_loser"))).cast("bigint").alias("neardup_removed_docs"),
            F.sum(tok(F.col("near_loser"))).cast("bigint").alias("neardup_removed_tokens"),
            F.sum(one(u)).cast("bigint").alias("union_removed_docs"),
            F.sum(tok(u)).cast("bigint").alias("union_removed_tokens"),
            F.round(
                F.sum(tok(u)).cast("double") / F.sum("n_tok"), 6
            ).alias("pct_tokens_removed"),
        )
        .orderBy("source")
    )


# k-anonymity audit — the re-identification governance check: how many
# rows sit in quasi-identifier groups smaller than k?  Quasi-identifiers
# here are (nation, market segment, account-balance band) — the
# realistic "harmless demographics" combination that fragments into
# singleton groups.  One hash aggregate over the quasi-identifier
# tuple; integer-only output.
@query(
    "k_anonymity_audit_customers",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(5 AS INTEGER) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(sz) AS BIGINT) AS min_group,
           CAST(MAX(sz) AS BIGINT) AS max_group,
           round(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS pct_rows_at_risk
    FROM g
    """,
)
def k_anonymity_audit_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    below = F.col("sz") < 5
    return g.agg(
        F.lit(5).cast("int").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.sum(F.when(below, 1).otherwise(0)).cast("bigint").alias("n_groups_below_k"),
        F.sum(F.when(below, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("sz").cast("bigint").alias("min_group"),
        F.max("sz").cast("bigint").alias("max_group"),
        F.round(
            F.sum(F.when(below, F.col("sz")).otherwise(0)).cast("double")
            / F.sum("sz"),
            6,
        ).alias("pct_rows_at_risk"),
    )


# Packing efficiency audit — the quality report over pack_sequences'
# output: how many documents land in each 128-token sequence (the
# attention-mask fragmentation a trainer actually pays for), and how
# many of them are straddle continuations.  Histogram-sized output;
# the pack itself is the two-phase-cumsum operator checked by
# pack_sequences_budget — this prices its layout.
@query(
    "packing_efficiency_audit",
    """
    WITH toks AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS e
      FROM toks WHERE n > 0
    ),
    spans AS (SELECT doc_id, n, e, e - n AS s FROM cum),
    placed AS (
      SELECT doc_id, g.seq_id,
             (g.seq_id = CAST(floor(s / 128) AS BIGINT)) AS starts_here
      FROM spans, LATERAL (
        SELECT unnest(generate_series(CAST(floor(s / 128) AS BIGINT),
                                      CAST(floor((e - 1) / 128) AS BIGINT))) AS seq_id
      ) g
    ),
    per_seq AS (
      SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS docs_per_seq,
             CAST(SUM(CASE WHEN starts_here THEN 1 ELSE 0 END) AS BIGINT) AS starts
      FROM placed GROUP BY seq_id
    )
    SELECT docs_per_seq,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(starts) AS BIGINT) AS n_doc_starts,
           CAST(SUM(docs_per_seq - starts) AS BIGINT) AS n_continuations
    FROM per_seq GROUP BY docs_per_seq ORDER BY docs_per_seq
    """,
)
def packing_efficiency_audit(spark, sf_dir):
    from ..operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tok")
    )
    placed = pack_sequences(d, "doc_id", "n_tok", budget=128)
    per_seq = placed.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_per_seq"),
        F.sum(F.when(F.col("starts_here"), 1).otherwise(0))
        .cast("bigint")
        .alias("starts"),
    )
    return (
        per_seq.groupBy("docs_per_seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
            F.sum("starts").cast("bigint").alias("n_doc_starts"),
            F.sum(F.col("docs_per_seq") - F.col("starts"))
            .cast("bigint")
            .alias("n_continuations"),
        )
        .orderBy("docs_per_seq")
    )


# HLL audience overlap — the inclusion-exclusion composition the
# sketch family needs for "how many users did BOTH": |A∩B| ≈
# est(A) + est(B) − est(A∪B), where est(A∪B) comes from the bucket-wise
# MAX register merge (exactly the merged-equals-one-pass property).
# At 100 TB this answers every audience-overlap / cross-feature-reach
# question from stored per-segment register tables WITHOUT rescanning
# either side.  All three register tables are integer-exact
# cross-engine; the intersection estimate is one shared double
# expression over the three round-4 estimates; the exact intersection
# (left-semi distinct count) rides along for the error audit.
@query(
    "hll_overlap_audience_events",
    f"""
    WITH ha AS (
      SELECT CAST(CONCAT('0x', substr(md5('4242:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
    ),
    hb AS (
      SELECT CAST(CONCAT('0x', substr(md5('4242:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    ra AS (
      SELECT u // 4503599627370496 AS bucket,
             MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                      ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
      FROM ha GROUP BY 1
    ),
    rb AS (
      SELECT u // 4503599627370496 AS bucket,
             MAX(CASE WHEN u % 4503599627370496 = 0 THEN 53
                      ELSE 53 - length(bin(u % 4503599627370496)) END) AS mj
      FROM hb GROUP BY 1
    ),
    ru AS (
      SELECT bucket, MAX(mj) AS mj FROM (
        SELECT * FROM ra UNION ALL SELECT * FROM rb
      ) GROUP BY 1
    ),
    est AS (
      SELECT 'a' AS side,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
               + (256 - CAST(COUNT(*) AS BIGINT)) * CAST(9007199254740992 AS BIGINT) AS s_total,
             CAST(COUNT(*) AS BIGINT) AS n_used
      FROM ra
      UNION ALL
      SELECT 'b',
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
               + (256 - CAST(COUNT(*) AS BIGINT)) * CAST(9007199254740992 AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM rb
      UNION ALL
      SELECT 'u',
             CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
               + (256 - CAST(COUNT(*) AS BIGINT)) * CAST(9007199254740992 AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM ru
    ),
    e2 AS (
      SELECT side,
             round(CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                        / CAST(s_total AS DOUBLE)) <= 640.0
                       AND (256 - n_used) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - n_used AS DOUBLE))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                       / CAST(s_total AS DOUBLE)
             END, 4) AS est
      FROM est
    ),
    p AS (
      SELECT MAX(CASE WHEN side = 'a' THEN est END) AS est_a,
             MAX(CASE WHEN side = 'b' THEN est END) AS est_b,
             MAX(CASE WHEN side = 'u' THEN est END) AS est_union
      FROM e2
    ),
    x AS (
      SELECT
        (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events WHERE event_type = 'click') AS exact_a,
        (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events WHERE event_type = 'purchase') AS exact_b,
        (SELECT CAST(COUNT(DISTINCT e1.user_id) AS BIGINT)
         FROM events e1 WHERE e1.event_type = 'click'
           AND EXISTS (SELECT 1 FROM events e2
                       WHERE e2.event_type = 'purchase' AND e2.user_id = e1.user_id)) AS exact_intersection
    )
    SELECT p.est_a, p.est_b, p.est_union,
           round(p.est_a + p.est_b - p.est_union, 4) AS est_intersection,
           x.exact_a, x.exact_b, x.exact_intersection,
           abs(round(p.est_a + p.est_b - p.est_union, 4) - x.exact_intersection)
             <= 0.2 * (x.exact_a + x.exact_b - x.exact_intersection) + 16.0 AS within_band
    FROM p CROSS JOIN x
    """,
)
def hll_overlap_audience_events(spark, sf_dir):
    from ..operators.sketch import hll_estimate, hll_merge_registers, hll_register_maxes

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.lit("g").alias("g"), "user_id"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.lit("g").alias("g"), "user_id"
    )
    ra = hll_register_maxes(clicks, ["g"], "user_id")
    rb = hll_register_maxes(purch, ["g"], "user_id")
    ru = hll_merge_registers(ra, rb, ["g"])
    ea = hll_estimate(ra, ["g"]).select(F.col("hll_estimate").alias("est_a"))
    eb = hll_estimate(rb, ["g"]).select(F.col("hll_estimate").alias("est_b"))
    eu = hll_estimate(ru, ["g"]).select(F.col("hll_estimate").alias("est_union"))
    exact_a = clicks.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_a")
    )
    exact_b = purch.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_b")
    )
    exact_i = (
        clicks.select("user_id")
        .distinct()
        .join(purch.select("user_id").distinct(), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    est_i = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4)
    band = F.lit(0.2) * (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_intersection")
    ) + F.lit(16.0)
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(F.broadcast(exact_a))
        .crossJoin(F.broadcast(exact_b))
        .crossJoin(F.broadcast(exact_i))
        .select(
            "est_a",
            "est_b",
            "est_union",
            est_i.alias("est_intersection"),
            "exact_a",
            "exact_b",
            "exact_intersection",
            (F.abs(est_i - F.col("exact_intersection")) <= band).alias("within_band"),
        )
    )


# ===========================================================================
# Round-7 wave 14 (verdict r6 task #7): rerank agreement audit over the
# dense retrieval stage, n-gram novelty scoring of an incoming batch
# against the base corpus, and an epoch-by-epoch mixture curriculum
# schedule from the temperature weights.


# Cross-encoder-style rerank AGREEMENT AUDIT — the eval a retrieval
# team runs before paying for a reranker: take the first-stage dense
# top-k, rescore it with the (expensive, exact) second-stage scorer,
# and quantify how much the order actually changes.  The second-stage
# proxy here is exact lexical overlap with the query document (the
# container has no model; the Spark-side plumbing — candidate join,
# bounded rerank, rank-agreement math — is the real artifact).  All
# agreement metrics are EXACT integer/rational statistics of the two
# rank vectors (Kendall tau from concordant-pair counts, Spearman rho
# from Σd², footrule from Σ|d|, top-5 overlap), so the oracle is
# hash-exact.  Scale shape: first stage is the corpus-sized scan
# (cosine_topk's one-pass broadcast-query scoring); everything after
# operates on the FIXED k=20 candidate rows — windows there are
# bounded by construction.
@query(
    "rerank_agreement_audit",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 5),
    scored AS (
      SELECT e.vec_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS score
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 5
    ),
    cand AS (
      SELECT vec_id AS doc_id, score,
             row_number() OVER (ORDER BY score DESC, vec_id) AS dr
      FROM scored QUALIFY dr <= 20
    ),
    qtok AS (
      SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS t
      FROM documents WHERE doc_id = 5
    ),
    ctok AS (
      SELECT c.doc_id, unnest(list_distinct(string_split(lower(d.text), ' '))) AS t
      FROM cand c JOIN documents d USING (doc_id)
    ),
    ov AS (
      SELECT c.doc_id,
             COALESCE(o.n_overlap, 0) AS n_overlap
      FROM cand c LEFT JOIN (
        SELECT ctok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM ctok JOIN qtok ON ctok.t = qtok.t GROUP BY ctok.doc_id
      ) o USING (doc_id)
    ),
    rr AS (
      SELECT c.doc_id, c.dr, ov.n_overlap,
             row_number() OVER (ORDER BY ov.n_overlap DESC, c.doc_id) AS rr
      FROM cand c JOIN ov USING (doc_id)
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN (a.dr < b.dr) = (a.rr < b.rr) THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM rr a JOIN rr b ON a.doc_id < b.doc_id
    )
    SELECT CAST(20 AS BIGINT) AS n_candidates,
           round((2.0 * pairs.c - pairs.np) / pairs.np, 6) AS kendall_tau,
           round(1.0 - 6.0 * s.sd2 / (20.0 * (400.0 - 1.0)), 6) AS spearman_rho,
           s.footrule,
           s.top5_overlap
    FROM pairs CROSS JOIN (
      SELECT CAST(SUM((dr - rr) * (dr - rr)) AS BIGINT) AS sd2,
             CAST(SUM(ABS(dr - rr)) AS BIGINT) AS footrule,
             CAST(SUM(CASE WHEN dr <= 5 AND rr <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS top5_overlap
      FROM rr
    ) s
    """,
)
def rerank_agreement_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    cand = cosine_topk(e, [5], k=20, dims=64).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("dr")
    )
    qtok = (
        d.filter(F.col("doc_id") == 5)
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
    )
    ctok = (
        cand.join(d, "doc_id")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
    )
    ov = (
        cand.join(
            ctok.join(F.broadcast(qtok), "t")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap")),
            "doc_id",
            "left",
        )
        .select("doc_id", "dr", F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
    )
    # k=20 candidate rows: the unpartitioned window is bounded by the
    # fixed candidate budget, not the corpus (same exception class as
    # calendar-bounded series).
    rr = ov.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("n_overlap"), F.asc("doc_id")))
    )
    rrm = materialize(rr, "rerank_agreement_audit.rrm")
    a = rrm.select(
        F.col("doc_id").alias("ida"), F.col("dr").alias("dra"), F.col("rr").alias("rra")
    )
    b = rrm.select(
        F.col("doc_id").alias("idb"), F.col("dr").alias("drb"), F.col("rr").alias("rrb")
    )
    pairs = (
        a.join(b, F.col("ida") < F.col("idb"))
        .agg(
            F.sum(
                F.when(
                    (F.col("dra") < F.col("drb")) == (F.col("rra") < F.col("rrb")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("np"),
        )
    )
    stats = rrm.agg(
        F.sum((F.col("dr") - F.col("rr")) * (F.col("dr") - F.col("rr")))
        .cast("bigint")
        .alias("sd2"),
        F.sum(F.abs(F.col("dr") - F.col("rr"))).cast("bigint").alias("footrule"),
        F.sum(
            F.when((F.col("dr") <= 5) & (F.col("rr") <= 5), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("top5_overlap"),
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .select(
            F.lit(20).cast("bigint").alias("n_candidates"),
            F.round(
                (F.lit(2.0) * F.col("c") - F.col("np")) / F.col("np"), 6
            ).alias("kendall_tau"),
            F.round(
                F.lit(1.0)
                - F.lit(6.0) * F.col("sd2") / (F.lit(20.0) * F.lit(399.0)),
                6,
            ).alias("spearman_rho"),
            "footrule",
            "top5_overlap",
        )
    )


# N-gram NOVELTY of an incoming batch vs the base corpus — the
# curriculum/acquisition signal ("how much of this crawl is genuinely
# new text?") and the dedup-adjacent complement to contamination
# checking: per new document, the share of its distinct 3-word
# shingles that appear NOWHERE in the base corpus.  Exact integer
# counts (distinct-shingle anti-membership), one hash-partitioned join
# on the shingle string — the same shape as contamination_ngram_docs,
# linear in corpus shingle volume at any scale.  Batch = doc_id % 5 = 0
# (the incremental-ingest convention from incremental_neardup_ingest).
@query(
    "ngram_novelty_batch",
    """
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tok
    ),
    dsh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
    base AS (SELECT DISTINCT s FROM dsh WHERE doc_id % 5 <> 0),
    batch AS (SELECT doc_id, s FROM dsh WHERE doc_id % 5 = 0)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN base.s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN base.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM batch b LEFT JOIN base ON b.s = base.s
    GROUP BY b.doc_id
    """,
)
def ngram_novelty_batch(spark, sf_dir):
    from ..operators.text import shingle_rows

    d = _t(spark, sf_dir, "documents")
    dsh = shingle_rows(d, "doc_id", "text", n=3).distinct()
    base = dsh.filter(F.col("doc_id") % 5 != 0).select("s").distinct()
    batch = dsh.filter(F.col("doc_id") % 5 == 0)
    return (
        batch.join(base.withColumn("__hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


# Epoch-by-epoch mixture CURRICULUM schedule — turning the temperature
# weights into an executable per-epoch keep plan: epoch 1 samples
# proportionally (tau=1), later epochs progressively flatten the
# source mix (tau=0.7, then 0.5 — head sources shrink, tail sources
# gain), each epoch drawing a quarter-corpus token budget.  Membership
# is a deterministic integer rule — keep doc in epoch e iff
# bucket(md5(doc:e)) * n_tokens(source) < target_tokens * 10000 — so
# the kept SET (not just its size) is engine-portable; the only
# transcendental (pow) goes through the round-to-ppm discipline proven
# by temperature_mixture_weights_docs.  Scale: one scan for per-source
# totals, one scan with a 3-row epoch broadcast for membership; no
# windows, no per-source skew (bounds documented inline).
@query(
    "curriculum_mixture_schedule",
    """
    WITH feat AS (
      SELECT doc_id, source, len(string_split(lower(text), ' ')) AS n_tok
      FROM documents
    ),
    s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM feat GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s),
    ep AS (SELECT * FROM (VALUES (1, 1.0), (2, 0.7), (3, 0.5)) e(epoch, tau)),
    z AS (
      SELECT ep.epoch, ep.tau, SUM(pow(CAST(s.n_tokens AS DOUBLE), ep.tau)) AS z
      FROM s CROSS JOIN ep GROUP BY 1, 2
    ),
    targets AS (
      SELECT z.epoch, s.source, s.n_tokens,
             CAST((tot.total // 4)
                  * CAST(round(pow(CAST(s.n_tokens AS DOUBLE), z.tau) / z.z
                               * 1000000.0) AS BIGINT)
                  // 1000000 AS BIGINT) AS target_tokens
      FROM s CROSS JOIN z CROSS JOIN tot
    ),
    kept AS (
      SELECT t.epoch, t.source, t.n_tokens, t.target_tokens, f.n_tok,
             CASE WHEN (CAST(CONCAT('0x', substr(md5(CAST(f.doc_id AS VARCHAR)
                          || ':' || CAST(t.epoch AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 10000) * t.n_tokens
                       < t.target_tokens * 10000
                  THEN 1 ELSE 0 END AS keep
      FROM feat f JOIN targets t ON f.source = t.source
    )
    SELECT epoch, source, n_tokens AS source_tokens, target_tokens,
           CAST(SUM(keep) AS BIGINT) AS n_docs_kept,
           CAST(SUM(keep * n_tok) AS BIGINT) AS tokens_kept,
           CASE WHEN target_tokens > 0
                THEN round(CAST(SUM(keep * n_tok) AS DOUBLE) / target_tokens, 6)
           END AS fill_ratio
    FROM kept GROUP BY epoch, source, n_tokens, target_tokens
    ORDER BY epoch, source
    """,
)
def curriculum_mixture_schedule(spark, sf_dir):
    from ..operators.sampling import _BUCKETS, hash_bucket

    d = _t(spark, sf_dir, "documents")
    feat = d.select("doc_id", "source", token_count_ws(F.col("text")).alias("n_tok"))
    s = feat.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("n_tokens")
    )
    tot = s.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    ep = spark.createDataFrame([(1, 1.0), (2, 0.7), (3, 0.5)], "epoch int, tau double")
    z = (
        s.crossJoin(F.broadcast(ep))
        .groupBy("epoch", "tau")
        .agg(F.sum(F.pow(F.col("n_tokens").cast("double"), F.col("tau"))).alias("z"))
    )
    ppm = F.round(
        F.pow(F.col("n_tokens").cast("double"), F.col("tau")) / F.col("z")
        * F.lit(1000000.0)
    ).cast("bigint")
    # integer bounds: bucket < 1e4, n_tokens(source) < 1e13 at 100 TB →
    # products < 1e17; budget*ppm < 2.5e12·1e6 — both inside int64.
    targets = (
        s.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(tot))
        .select(
            "epoch",
            "source",
            "n_tokens",
            F.expr("CAST(total div 4 AS BIGINT)").alias("budget"),
            ppm.alias("ppm"),
        )
        .select(
            "epoch",
            "source",
            "n_tokens",
            F.expr("CAST(budget * ppm div 1000000 AS BIGINT)").alias("target_tokens"),
        )
    )
    bucket = hash_bucket(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string")
        )
    ).cast("long")
    assert _BUCKETS == 10_000
    kept = feat.join(F.broadcast(targets), "source").select(
        "epoch",
        "source",
        "n_tokens",
        "target_tokens",
        "n_tok",
        F.when(
            bucket * F.col("n_tokens") < F.col("target_tokens") * F.lit(10000),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    return (
        kept.groupBy("epoch", "source", "n_tokens", "target_tokens")
        .agg(
            F.sum("keep").cast("bigint").alias("n_docs_kept"),
            F.sum(F.col("keep") * F.col("n_tok")).cast("bigint").alias("tokens_kept"),
        )
        .select(
            "epoch",
            "source",
            F.col("n_tokens").alias("source_tokens"),
            "target_tokens",
            "n_docs_kept",
            "tokens_kept",
            F.when(
                F.col("target_tokens") > 0,
                F.round(
                    F.col("tokens_kept").cast("double") / F.col("target_tokens"), 6
                ),
            ).alias("fill_ratio"),
        )
        .orderBy("epoch", "source")
    )


# Train/eval DECONTAMINATION audit — the composed "is my eval split
# clean?" check every LLM data team runs: hash-split the corpus 90/10
# (deterministic md5 bucket — the leakage_safe_split convention), then
# flag an eval document as contaminated when at least HALF of its
# distinct 3-word shingles also occur in the train split.  The
# threshold is the INTEGER rule 2·n_hit >= n_shingles (no float
# compare), all counts exact, one rounded rate per source — hash-exact
# oracle.  Scale shape: the train shingle set collapses map-side
# before one hash-partitioned membership join; same linear shape as
# ngram_novelty_batch / contamination_ngram_docs.
@query(
    "decontamination_split_audit",
    """
    WITH tok AS (SELECT doc_id, source, string_split(lower(text), ' ') AS words FROM documents),
    sh AS (
      SELECT doc_id, source,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tok
    ),
    split AS (
      SELECT doc_id, source, shingles,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS b
      FROM sh
    ),
    train AS (
      SELECT DISTINCT unnest(list_distinct(shingles)) AS s FROM split WHERE b < 9000
    ),
    ev AS (
      SELECT doc_id, source, unnest(list_distinct(shingles)) AS s
      FROM split WHERE b >= 9000
    ),
    per_doc AS (
      SELECT e.doc_id, e.source,
             CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(SUM(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM ev e LEFT JOIN train t ON e.s = t.s
      GROUP BY e.doc_id, e.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(SUM(CASE WHEN 2 * n_hit >= n_sh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(CAST(SUM(CASE WHEN 2 * n_hit >= n_sh THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_rate
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def decontamination_split_audit(spark, sf_dir):
    from ..operators.sampling import hash_bucket
    from ..operators.text import shingle_rows

    d = _t(spark, sf_dir, "documents")
    dsh = shingle_rows(d.select("doc_id", "source", "text"), "doc_id", "text", n=3)
    # shingle_rows keys rows by doc_id only — re-attach source and the
    # split bucket by joining back the doc-level frame (broadcast-sized
    # per-doc metadata vs the shingle stream would be wrong at scale;
    # an equi-join on doc_id co-partitions with the distinct below).
    meta = d.select("doc_id", "source", hash_bucket(F.col("doc_id")).alias("b"))
    dsh = dsh.distinct().join(meta, "doc_id")
    train = dsh.filter(F.col("b") < 9000).select("s").distinct()
    ev = dsh.filter(F.col("b") >= 9000)
    per_doc = (
        ev.join(train.withColumn("__hit", F.lit(1)), "s", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    contaminated = F.when(2 * F.col("n_hit") >= F.col("n_sh"), 1).otherwise(0)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"),
            F.sum(contaminated).cast("bigint").alias("n_contaminated"),
            F.round(
                F.sum(contaminated).cast("double") / F.count(F.lit(1)), 6
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


# Sign-hash cluster PURITY / NMI against labels — the cluster-quality
# evaluation every embedding-space curation step needs: bucket each
# vector by the sign pattern of its first 8 dimensions (a fixed
# axis-aligned LSH — deterministic, engine-portable: float sign
# compares on the stored values) and score the bucketing against the
# labeled classes.  Purity is exact integer arithmetic
# (Σ_c max_l n_cl / N); NMI's entropies use ln only under round-6 on
# exact count ratios (the ln-discipline).  Scale: one scan → (bucket,
# label) contingency (≤ 256·|labels| cells), everything after is
# cell-sized.
@query(
    "cluster_purity_embeddings",
    """
    WITH b AS (
      SELECT vec_id, label,
             (CASE WHEN embedding[1] >= 0 THEN 128 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 64 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 32 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[5] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[6] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    cells AS (
      SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY bucket, label
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    bc AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY bucket),
    lc AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY label),
    pur AS (
      SELECT CAST(SUM(mx) AS BIGINT) AS hits FROM (
        SELECT bucket, MAX(n) AS mx FROM cells GROUP BY bucket
      )
    ),
    mi AS (
      SELECT CAST(SUM(CAST(CAST(round(CAST(c.n AS DOUBLE) / tot.nn
                 * round(ln(CAST(c.n AS DOUBLE) * tot.nn
                            / (CAST(bc.nb AS DOUBLE) * lc.nl)), 6), 6)
                 AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS DOUBLE) / 1000000.0 AS i
      FROM cells c JOIN bc USING (bucket) JOIN lc USING (label) CROSS JOIN tot
    ),
    hb AS (
      SELECT -CAST(SUM(CAST(CAST(round(CAST(nb AS DOUBLE) / tot.nn
                  * round(ln(CAST(nb AS DOUBLE) / tot.nn), 6), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS DOUBLE) / 1000000.0 AS h
      FROM bc CROSS JOIN tot
    ),
    hl AS (
      SELECT -CAST(SUM(CAST(CAST(round(CAST(nl AS DOUBLE) / tot.nn
                  * round(ln(CAST(nl AS DOUBLE) / tot.nn), 6), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS DOUBLE) / 1000000.0 AS h
      FROM lc CROSS JOIN tot
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bc) AS n_buckets,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lc) AS n_labels,
           round(CAST(pur.hits AS DOUBLE) / tot.nn, 6) AS purity,
           round(mi.i / sqrt(hb.h * hl.h), 6) AS nmi
    FROM pur CROSS JOIN tot CROSS JOIN mi CROSS JOIN hb CROSS JOIN hl
    """,
)
def cluster_purity_embeddings(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    bucket = None
    for i in range(8):
        term = F.when(F.col("embedding")[i] >= 0, F.lit(1 << (7 - i))).otherwise(0)
        bucket = term if bucket is None else bucket + term
    cells = (
        e.select(bucket.alias("bucket"), "label")
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # contingency-sized; read by 5 branches
    cells = materialize(cells, "cluster_purity_embeddings.cells")
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    bc = cells.groupBy("bucket").agg(F.sum("n").cast("bigint").alias("nb"))
    lc = cells.groupBy("label").agg(F.sum("n").cast("bigint").alias("nl"))
    pur = (
        cells.groupBy("bucket")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("hits"))
    )
    def _sum6(term):
        # round-6 terms carried as exact int64 1e-6 units: the sum is
        # order-free, one shared double division (the repo's
        # ln-discipline sum pattern).
        units = (F.round(term, 6).cast("decimal(18,6)") * F.lit(1000000)).cast(
            "long"
        )
        return F.sum(units).cast("double") / F.lit(1000000.0)

    mi = (
        cells.join(bc, "bucket")
        .join(lc, "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            _sum6(
                F.col("n").cast("double")
                / F.col("nn")
                * F.round(
                    F.log(
                        F.col("n").cast("double")
                        * F.col("nn")
                        / (F.col("nb").cast("double") * F.col("nl"))
                    ),
                    6,
                )
            ).alias("i")
        )
    )
    hb = (
        bc.crossJoin(F.broadcast(tot))
        .agg(
            (-_sum6(
                F.col("nb").cast("double")
                / F.col("nn")
                * F.round(F.log(F.col("nb").cast("double") / F.col("nn")), 6)
            )).alias("hb")
        )
    )
    hl = (
        lc.crossJoin(F.broadcast(tot))
        .agg(
            (-_sum6(
                F.col("nl").cast("double")
                / F.col("nn")
                * F.round(F.log(F.col("nl").cast("double") / F.col("nn")), 6)
            )).alias("hl")
        )
    )
    nb_count = bc.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    nl_count = lc.agg(F.count(F.lit(1)).cast("bigint").alias("n_labels"))
    return (
        pur.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(nb_count))
        .crossJoin(F.broadcast(nl_count))
        .select(
            "n_buckets",
            "n_labels",
            F.round(F.col("hits").cast("double") / F.col("nn"), 6).alias("purity"),
            F.round(F.col("i") / F.sqrt(F.col("hb") * F.col("hl")), 6).alias("nmi"),
        )
    )
