"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _dec, _events, _t, materialize, query
from .q02_pipeline_parity import Window, _finish_scratch, _scratch_dir
from .q04_retrieval_text import _copurchase_pairs


# ---------------------------------------------------------------------------
# Round-4 continuation, wave 10: bounded-round graph decomposition and
# deadline-bounded conversion.


# 3-core of the co-purchase graph — the density layer under the
# triangle/PageRank stack: peel nodes with degree < 3 until the dense
# backbone remains (catalog curation reads it as "parts that co-occur
# in a mutually reinforcing set, not via one hub order").  Peeling is
# run for a FIXED 6 rounds so the Spark loop and the unrolled SQL
# oracle are deterministic twins; convergence is REPORTED (node count
# of round 5 vs 6), never assumed — the honest contract for an
# iterative operator under differential test.  Each round is one O(E)
# degree agg + two semi-joins; lineage localCheckpoint-bounded (the CC
# discipline, operators/graph.kcore_peel).
def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    ctes = [
        """e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node FROM (
        SELECT pa AS node FROM e{p} UNION ALL SELECT pb AS node FROM e{p}
      ) GROUP BY node HAVING COUNT(*) >= {k}
    )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
      SELECT pa, pb FROM e{p}
      WHERE pa IN (SELECT node FROM d{i}) AND pb IN (SELECT node FROM d{i})
    )"""
        )
    last, prev = rounds, rounds - 1
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f""",
    nodes_cur AS (
      SELECT node FROM (
        SELECT pa AS node FROM e{last} UNION ALL SELECT pb AS node FROM e{last}
      ) GROUP BY node
    ),
    nodes_prev AS (
      SELECT node FROM (
        SELECT pa AS node FROM e{prev} UNION ALL SELECT pb AS node FROM e{prev}
      ) GROUP BY node
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes_cur) AS n_nodes,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM e{last}) AS n_edges,
      (SELECT CAST(COALESCE(SUM(node), 0) AS BIGINT) FROM nodes_cur) AS node_id_sum,
      CAST(CASE WHEN (SELECT COUNT(*) FROM nodes_cur)
                     = (SELECT COUNT(*) FROM nodes_prev)
           THEN 1 ELSE 0 END AS INTEGER) AS converged
    """
    )


@query("kcore_parts_copurchase", _kcore_oracle())
def kcore_parts_copurchase(spark, sf_dir):
    from ..operators.graph import kcore_peel

    pairs = _copurchase_pairs(spark, sf_dir)
    return kcore_peel(pairs, k=3, rounds=6)


# Deadline-bounded funnel — conversion counted only when the first
# purchase lands within 72h of the user's FIRST view (the SLA form of
# funnel_conversion_events: marketing attribution windows, trial
# deadlines).  Two per-user min-aggregates and one broadcastable
# interval comparison — no window, no range join; timestamps stay
# exact micros so the 72h boundary is the same instant in both
# engines.
@query(
    "funnel_deadline_events",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.tv
      GROUP BY e.user_id
    ),
    j AS (
      SELECT v.user_id,
             CASE WHEN p.tp IS NOT NULL
                       AND p.tp <= v.tv + INTERVAL 72 HOUR
                  THEN 1 ELSE 0 END AS conv
      FROM v LEFT JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(conv) AS BIGINT) AS n_converted_72h,
           round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS conv_rate
    FROM j
    """,
)
def funnel_deadline_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    j = v.join(p, "user_id", "left").select(
        F.when(
            F.col("tp").isNotNull()
            & (F.col("tp") <= F.col("tv") + F.expr("INTERVAL 72 HOURS")),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewers"),
        F.sum("conv").cast("bigint").alias("n_converted_72h"),
        F.round(F.sum("conv").cast("double") / F.count(F.lit(1)), 6).alias(
            "conv_rate"
        ),
    )

# ---------------------------------------------------------------------------
# Round-4 continuation, wave 11: incremental view maintenance for joins
# and the continuous-aggregate rollup cascade.


# Incremental JOIN-view maintenance from CDF — the delta-maintenance
# discipline for materialized fact⋈dim views: when the dimension
# publishes v2, the maintained view deletes only the AFFECTED keys'
# rows and re-joins only the delta, never re-shuffling the full fact
# table.  The maintained result must be value-identical to a cold
# recompute — that IS the oracle (which recomputes from v2 directly),
# so any key missed by the delta path breaks the value hash.  Shuffle
# volume at 100 TB: |Δdim| ⋈ fact (semi-join pruned) + an anti-join on
# the old view — both bounded by the change set, not the table.
@query(
    "incremental_join_view_cdf",
    """
    WITH v2 AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 13 <> 0
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_bal
    FROM orders JOIN v2 ON o_custkey = c_custkey
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def incremental_join_view_cdf(spark, sf_dir):
    from ..sources.table import VersionedParquetTable, version_diff

    root = _scratch_dir("cdf_join", sf_dir)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    k = F.col("c_custkey")
    v1 = cust.filter(k % 11 != 0)
    v2 = cust.filter(k % 13 != 0).withColumn(
        "c_acctbal",
        F.when(k % 7 == 0, F.col("c_acctbal") * 2).otherwise(F.col("c_acctbal")),
    )
    t = VersionedParquetTable(spark, root, "customer_cdf_join")
    t.write(v1)
    t.write(v2)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    # the previously committed view (in a live pipeline this is read
    # from the view's own versioned table, not recomputed)
    view1 = orders.join(t.read(1), orders["o_custkey"] == F.col("c_custkey"))
    feed = version_diff(t, "c_custkey", include_old=True)
    affected = feed.select("c_custkey").distinct()
    kept = view1.join(affected, "c_custkey", "left_anti")
    delta_dim = t.read(2).join(affected, "c_custkey", "left_semi")
    refreshed = orders.join(
        delta_dim, orders["o_custkey"] == delta_dim["c_custkey"]
    )
    maintained = kept.unionByName(refreshed)
    out = (
        maintained.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias(
                "total_price"
            ),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )
    return _finish_scratch(out, root)


# Continuous-aggregate rollup cascade — minute → hour → day, each tier
# aggregated FROM THE PREVIOUS tier (the timescale/druid downsampling
# discipline): the raw stream is touched once, every coarser tier
# re-aggregates a frame that is orders of magnitude smaller, and only
# re-aggregable measures (counts, decimal sums — never averages) flow
# between tiers.  The oracle computes the day tier directly from raw
# events, so a non-re-aggregable measure smuggled into the cascade
# breaks the value hash.
@query(
    "rollup_cascade_events",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,
)
def rollup_cascade_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    minute = e.groupBy(
        F.date_trunc("minute", "ts").alias("m"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("v"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "m").alias("h"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    day = hour.groupBy(
        F.date_trunc("day", "h").alias("d"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    return day.select(
        F.col("d").cast("date").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round("v", 2).cast("double").alias("total"),
    ).orderBy("day", "event_type")







# ===========================================================================
# Round-5 wave 11a: own-implementation HLL (exact cross-engine sketch),
# rank-based inference, autocorrelation, per-node graph structure.


# HyperLogLog distinct-count audit — the repo's OWN HLL (Flajolet 2007)
# built on the engine-portable md5 hash family, unlike
# approx_count_distinct whose HLL++ registers are Spark-private.
# Because bucket (top-8 hash bits) and rank (exact integer bit-length,
# never float log2) are pure integer functions of md5, the REGISTER
# TABLE and hence the ESTIMATE are bit-identical cross-engine: the
# driver hash-checks the estimate itself, not a band.  The rescaled
# harmonic sum Σ2^(53−M_j) stays an exact bigint (≤2^61) so no float
# summation order exists; exactly ONE shared double expression
# produces the estimate.  Both HLL branches are exercised across SFs
# (sf0.001 lands in linear counting, sf0.01+ in the raw estimator).
# Accuracy is ALSO banded vs the exact distinct (σ≈1.04/√256=6.5%;
# 20% band).  Scale: groupBy(grp, bucket) MAX collapses map-side to
# ≤ groups·256 rows per task — the mergeable-register property that
# makes HLL the standard 100 TB distinct sketch.
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / 256)


@query(
    "hll_distinct_audit",
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
    ),
    e2 AS (
      SELECT grp,
             CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                        / CAST(s_total AS DOUBLE)) <= 640.0
                       AND (256 - n_used) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - n_used AS DOUBLE))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0 * 9007199254740992.0
                       / CAST(s_total AS DOUBLE)
             END AS raw_est
      FROM est
    ),
    x AS (
      SELECT l_returnflag AS grp,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem GROUP BY 1
    )
    SELECT x.grp, x.exact_distinct, round(e2.raw_est, 4) AS hll_estimate,
           TRUE AS within_20pct
    FROM x JOIN e2 ON x.grp = e2.grp
    ORDER BY x.grp
    """,
)
def hll_distinct_audit(spark, sf_dir):
    from ..operators.sketch import hll_estimate, hll_register_maxes

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_partkey"
    )
    regs = hll_register_maxes(li, ["grp"], "l_partkey", p=8, seed=4242)
    est = hll_estimate(regs, ["grp"], p=8)
    exact = li.groupBy("grp").agg(
        F.count_distinct("l_partkey").cast("bigint").alias("exact_distinct")
    )
    return (
        exact.join(est, "grp")
        .select(
            "grp",
            "exact_distinct",
            "hll_estimate",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                <= F.lit(0.20) * F.col("exact_distinct")
            ).alias("within_20pct"),
        )
        .orderBy("grp")
    )


# Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
# location test: do open ('O') line items carry different quantities
# than finalized ('F'/'R' excluded; we compare 'O' vs 'F')?  Rank
# arithmetic is EXACT: with t tied rows below and c in a tie group,
# each tied row's midrank is cum_before + (c+1)/2 — kept as the
# integer 2·rank to avoid halves; U and the rank-sum are exact bigint
# until the single shared z-score expression (normal approximation
# with the standard tie correction).  The value-level frame is
# ~50 distinct quantities — the window runs over the AGGREGATE, never
# the fact rows, so the shape is flat at 100 TB (two scans: one
# value-level count agg, one broadcast-joined weighted sum).
@query(
    "mannwhitney_u_lineitem",
    """
    WITH f AS (
      SELECT l_linestatus AS g, CAST(l_quantity AS DECIMAL(18,4)) AS q
      FROM lineitem WHERE l_linestatus IN ('O', 'F')
    ),
    v AS (
      SELECT q, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM f GROUP BY q
    ),
    w AS (
      SELECT q, c, c1,
             COALESCE(SUM(c) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM v
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c - c1) AS BIGINT) AS n2,
             CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r1x2,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
      FROM w
    )
    SELECT n1, n2,
           round((CAST(r1x2 AS DOUBLE) / 2.0)
                 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0, 4) AS u1,
           round(((CAST(r1x2 AS DOUBLE) / 2.0)
                  - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
                  - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
                 6) AS z
    FROM agg
    """,
)
def mannwhitney_u_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_linestatus").isin("O", "F")).select(
        F.col("l_linestatus").alias("g"), _dec("l_quantity").alias("q")
    )
    v = f.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum((F.col("g") == "O").cast("int")).cast("bigint").alias("c1"),
    )
    wspec = (
        Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    )
    w = v.withColumn("cb", F.coalesce(F.sum("c").over(wspec), F.lit(0)))
    agg = w.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (F.lit(2) * F.col("cb") + F.col("c") + 1))
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    r1 = F.col("r1x2").cast("double") / F.lit(2.0)
    u1 = r1 - n1d * (F.col("n1") + 1) / F.lit(2.0)
    mu = n1d * F.col("n2") / F.lit(2.0)
    nn = F.col("n1") + F.col("n2")
    sig2 = (n1d * F.col("n2") / F.lit(12.0)) * (
        (nn + 1).cast("double")
        - F.col("tie3").cast("double") / (nn.cast("double") * (nn - 1))
    )
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 4).alias("u1"),
        F.round((u1 - mu) / F.sqrt(sig2), 6).alias("z"),
    )


# Autocorrelation function — lags 1..14 of the daily purchase-revenue
# series: the seasonality detector that sizes windows for forecasting
# and anomaly models downstream.  Exactness: daily revenue in integer
# cents; the centered cross-products (n·x_t − S)(n·x_{t+k} − S) are
# exact DECIMAL(38,0) products of bigints (never a float mean
# subtraction), so numerator and denominator are partition-order-free
# and ONE shared double division produces r_k.  Scale: the series is
# calendar-bounded (one row per day) — the self-join and windows run
# over ~366 rows regardless of fact size; only the daily rollup
# touches the corpus.
@query(
    "acf_daily_revenue",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM d
    ),
    idx AS (
      SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d
    ),
    den AS (
      SELECT SUM(CAST(st.n * idx.cents - st.s AS DECIMAL(19,0))
                 * CAST(st.n * idx.cents - st.s AS DECIMAL(19,0))) AS den
      FROM idx CROSS JOIN st
    ),
    lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
    num AS (
      SELECT l.lag,
             SUM(CAST(st.n * a.cents - st.s AS DECIMAL(19,0))
                 * CAST(st.n * b.cents - st.s AS DECIMAL(19,0))) AS num,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lags l
      JOIN idx a ON TRUE
      JOIN idx b ON b.i = a.i + l.lag
      CROSS JOIN st
      GROUP BY l.lag
    )
    SELECT num.lag, num.n_pairs,
           round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS acf
    FROM num CROSS JOIN den
    ORDER BY num.lag
    """,
)
def acf_daily_revenue(spark, sf_dir):
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
    st = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    idx = d.withColumn("i", F.row_number().over(Window.orderBy("day")))
    dev = (F.col("n") * F.col("cents") - F.col("s")).cast("decimal(19,0)")
    den = (
        idx.crossJoin(F.broadcast(st))
        .select((dev * dev).alias("dd"))
        .agg(F.sum("dd").alias("den"))
    )
    a = idx.select(F.col("i").alias("ia"), F.col("cents").alias("ca"))
    b = idx.select(F.col("i").alias("ib"), F.col("cents").alias("cb_"))
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("lag"))
    deva = (F.col("n") * F.col("ca") - F.col("s")).cast("decimal(19,0)")
    devb = (F.col("n") * F.col("cb_") - F.col("s")).cast("decimal(19,0)")
    num = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
        .crossJoin(F.broadcast(st))
        .groupBy("lag")
        .agg(
            F.sum(deva * devb).alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ===========================================================================
# Round-5 wave 11b: community detection, variance-reduced experiment
# readout, exponential-smoothing forecast, classical seasonal
# decomposition, link prediction.


# Label-propagation communities — iterated neighbor-majority voting
# over the co-purchase graph (operators/graph.label_propagation), the
# linear-time community detector.  Deterministic twin discipline:
# FIXED 3 rounds, ties broken by smallest label, and the DuckDB oracle
# unrolls the same three rounds with AS MATERIALIZED CTEs (the kcore
# lesson: default CTE inlining re-expands each round's base scan
# exponentially).  Output is community-sized (top 20 by size), never
# node-sized.
@query(
    "label_propagation_parts",
    """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb, pa FROM pairs
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS v, src AS label FROM und
    ),
    l1 AS MATERIALIZED (
      SELECT v, label FROM (
        SELECT e.dst AS v, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM und e JOIN l0 l ON l.v = e.src GROUP BY e.dst, l.label
      ) WHERE rn = 1
    ),
    l2 AS MATERIALIZED (
      SELECT v, label FROM (
        SELECT e.dst AS v, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM und e JOIN l1 l ON l.v = e.src GROUP BY e.dst, l.label
      ) WHERE rn = 1
    ),
    l3 AS MATERIALIZED (
      SELECT v, label FROM (
        SELECT e.dst AS v, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM und e JOIN l2 l ON l.v = e.src GROUP BY e.dst, l.label
      ) WHERE rn = 1
    )
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size,
           CAST(SUM(v) AS BIGINT) AS member_checksum
    FROM l3 GROUP BY label
    ORDER BY size DESC, community LIMIT 20
    """,
)
def label_propagation_parts(spark, sf_dir):
    from ..operators.graph import label_propagation

    pairs = _copurchase_pairs(spark, sf_dir)
    # distinct_pairs: the co-purchase builder emits DISTINCT (pa < pb)
    # pairs, so round 1 reduces to a min-neighbor aggregate (provably
    # identical — see operator).
    lab = label_propagation(pairs, rounds=3, distinct_pairs=True)
    return (
        lab.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("size"),
            F.sum("v").cast("bigint").alias("member_checksum"),
        )
        .orderBy(F.desc("size"), "community")
        .limit(20)
    )


# CUPED variance reduction — the standard pre-experiment-covariate
# adjustment (Deng et al. 2013): Y_adj = Y − θ(X − X̄) with
# θ = cov(X,Y)/var(X) estimated POOLED across arms, X = pre-period
# (H1) click count, Y = post-period (H2) purchase revenue.  Arms are
# the deterministic user_id parity split.  Every moment is an exact
# integer/decimal sufficient statistic (counts × revenue cents); θ,
# the adjusted means, and the variance-reduction ratio are each ONE
# shared double expression — partition-order-free by construction.
# Scale: two per-user aggregates + arm-level rollups; nothing is
# user-count-sized downstream of the first groupBy.
@query(
    "cuped_adjusted_lift_events",
    """
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click'
                           AND EXTRACT(month FROM ts) <= 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           AND EXTRACT(month FROM ts) >= 7
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx
      FROM u
    ),
    arm AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
      FROM u GROUP BY 1
    )
    SELECT a.arm, a.n_a AS n_users,
           round(CAST(a.sy_a AS DOUBLE) / a.n_a / 100.0, 6) AS mean_rev,
           round((CAST(a.sy_a AS DOUBLE)
                  - ((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                      - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                     / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                        - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)))
                    * (CAST(a.sx_a AS DOUBLE)
                       - CAST(a.n_a AS DOUBLE) * CAST(p.sx AS DOUBLE) / p.n))
                 / a.n_a / 100.0, 6) AS mean_rev_cuped,
           round((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                  - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                 / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                    - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)) / 100.0,
                 6) AS theta_dollars_per_click
    FROM arm a CROSS JOIN pooled p
    ORDER BY a.arm
    """,
)
def cuped_adjusted_lift_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    u = e.groupBy("user_id").agg(
        F.sum(
            (
                (F.col("event_type") == "click") & (F.month("ts") <= 6)
            ).cast("int")
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.month("ts") >= 7),
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    pooled = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
    )
    arm = u.groupBy((F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
    )
    nd = F.col("n").cast("double")
    theta = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    adj = (
        F.col("sy_a").cast("double")
        - theta
        * (
            F.col("sx_a").cast("double")
            - F.col("n_a").cast("double") * F.col("sx").cast("double") / F.col("n")
        )
    ) / F.col("n_a") / F.lit(100.0)
    return (
        arm.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n_a").alias("n_users"),
            F.round(
                F.col("sy_a").cast("double") / F.col("n_a") / F.lit(100.0), 6
            ).alias("mean_rev"),
            F.round(adj, 6).alias("mean_rev_cuped"),
            F.round(theta / F.lit(100.0), 6).alias("theta_dollars_per_click"),
        )
        .orderBy("arm")
    )


# Holt linear-trend exponential smoothing — per-nation one-step revenue
# forecast.  The recursion s_t = αy_t + (1−α)(s+b), b_t = β(s_t−s_prev)
# + (1−β)b is inherently sequential, so it runs as a LEFT FOLD over the
# month-sorted per-nation series: Spark `aggregate` and DuckDB
# `list_reduce` execute the IDENTICAL fold expression (state packed as
# a 2-element double list — list_reduce needs acc/element type parity,
# so elements are singleton lists), making every intermediate double
# bit-equal across engines.  Series are calendar-bounded (≤ ~85 months
# per nation) — the fold is a per-group scalar op, never data-sized;
# only the monthly rollup touches the fact table.
@query(
    "holt_forecast_nation_monthly",
    """
    WITH m AS (
      SELECT n_name AS nation,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    ser AS (
      SELECT nation, list(CAST(cents AS DOUBLE) ORDER BY x) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n_months
      FROM m GROUP BY nation
    ),
    fit AS (
      SELECT nation, n_months,
             list_reduce(
               list_prepend([ys[2], ys[2] - ys[1]],
                            list_transform(ys[3:], y -> [y])),
               (acc, x) -> [
                 0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                 0.3 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                   + 0.7 * acc[2]
               ]) AS st
      FROM ser WHERE n_months >= 3
    )
    SELECT nation, n_months,
           round(st[1] / 100.0, 4) AS level,
           round(st[2] / 100.0, 4) AS trend,
           round((st[1] + st[2]) / 100.0, 4) AS forecast_next
    FROM fit ORDER BY nation
    """,
)
def holt_forecast_nation_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ser = m.groupBy("nation").agg(
        F.expr("transform(array_sort(collect_list(struct(x, cents))), "
               "s -> CAST(s.cents AS DOUBLE))").alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    fold = F.expr(
        """
        aggregate(
          transform(slice(ys, 3, size(ys) - 2), y -> array(y)),
          array(element_at(ys, 2), element_at(ys, 2) - element_at(ys, 1)),
          (acc, x) -> array(
            0.5D * element_at(x, 1)
              + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            0.3D * ((0.5D * element_at(x, 1)
                     + 0.5D * (element_at(acc, 1) + element_at(acc, 2)))
                    - element_at(acc, 1))
              + 0.7D * element_at(acc, 2)
          )
        )
        """
    )
    return (
        ser.filter(F.col("n_months") >= 3)
        .select("nation", "n_months", fold.alias("st"))
        .select(
            "nation",
            "n_months",
            F.round(F.element_at("st", 1) / F.lit(100.0), 4).alias("level"),
            F.round(F.element_at("st", 2) / F.lit(100.0), 4).alias("trend"),
            F.round(
                (F.element_at("st", 1) + F.element_at("st", 2)) / F.lit(100.0), 4
            ).alias("forecast_next"),
        )
        .orderBy("nation")
    )


# Classical seasonal decomposition (trend = centered 2×12 moving
# average, seasonal = per-calendar-month mean deviation, remainder)
# over the global monthly revenue series — the additive decomposition
# behind every "is this drop seasonal or real?" question.  Exactness:
# the 2×12 MA keeps half-weights integral by scaling ×24
# (trend_x24 = y₋₆ + 2Σy₋₅..₊₅ + y₊₆ in cents), deviations stay ×24
# bigints, and OUTPUTS STAY IN THE ×24-CENTS SPACE: dividing by 2400
# lands exact rationals on 4th-decimal halves where the two engines
# round differently (caught at sf0.001), while S/C at 6dp is tie-free
# because 10⁶ carries more factors of 2 than any year-count C.  The
# series is calendar-bounded — every window/aggregate after the
# monthly rollup runs over ~84 rows.
@query(
    "seasonal_decompose_monthly",
    """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS moy,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    tr AS (
      SELECT a.x, a.moy, a.cents,
             CAST(SUM(CASE WHEN abs(b.x - a.x) = 6 THEN b.cents
                           ELSE 2 * b.cents END) AS BIGINT) AS trend_x24,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM m a JOIN m b ON b.x BETWEEN a.x - 6 AND a.x + 6
      GROUP BY a.x, a.moy, a.cents
    ),
    full_tr AS (
      SELECT x, moy, cents, trend_x24,
             24 * cents - trend_x24 AS dev_x24
      FROM tr WHERE n_terms = 13
    ),
    seas AS (
      SELECT moy,
             CAST(SUM(dev_x24) AS DOUBLE) / COUNT(*) AS seasonal_x24
      FROM full_tr GROUP BY moy
    )
    SELECT f.x AS month_idx, f.cents, f.trend_x24,
           round(s.seasonal_x24, 6) AS seasonal_x24,
           round(CAST(f.dev_x24 AS DOUBLE) - s.seasonal_x24, 6) AS remainder_x24
    FROM full_tr f JOIN seas s ON f.moy = s.moy
    ORDER BY f.x
    """,
)
def seasonal_decompose_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    m = o.groupBy(
        x.alias("x"), F.month("o_orderdate").cast("int").alias("moy")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = m.select(
        F.col("x").alias("xa"), F.col("moy"), F.col("cents").alias("ca")
    )
    b = m.select(F.col("x").alias("xb"), F.col("cents").alias("cb_"))
    tr = (
        a.join(
            F.broadcast(b),
            (F.col("xb") >= F.col("xa") - 6) & (F.col("xb") <= F.col("xa") + 6),
        )
        .groupBy("xa", "moy", "ca")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("xb") - F.col("xa")) == 6, F.col("cb_")
                ).otherwise(F.lit(2) * F.col("cb_"))
            )
            .cast("bigint")
            .alias("trend_x24"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    full_tr = tr.filter(F.col("n_terms") == 13).select(
        F.col("xa").alias("x"),
        "moy",
        F.col("ca").alias("cents"),
        "trend_x24",
        (F.lit(24) * F.col("ca") - F.col("trend_x24")).alias("dev_x24"),
    )
    seas = full_tr.groupBy("moy").agg(
        (F.sum("dev_x24").cast("double") / F.count(F.lit(1))).alias(
            "seasonal_x24"
        )
    )
    return (
        full_tr.join(F.broadcast(seas), "moy")
        .select(
            F.col("x").alias("month_idx"),
            "cents",
            "trend_x24",
            F.round(F.col("seasonal_x24"), 6).alias("seasonal_x24"),
            F.round(
                F.col("dev_x24").cast("double") - F.col("seasonal_x24"), 6
            ).alias("remainder_x24"),
        )
        .orderBy("month_idx")
    )


# Adamic-Adar link prediction — for SEED parts (the 8 smallest node
# ids, the ppr_parts_seeded discipline), score non-adjacent candidates
# y by AA(x,y) = Σ_z 1/ln(deg z) over common co-purchase neighbors z:
# the classic "what should be bought with this" feature.  SEEDED is
# the honest scale shape: the co-purchase graph is dense (avg degree
# ~120 at sf0.1 → Σ C(deg,2) ≈ 1.5e8 global wedges), so all-pairs AA
# is quadratic-in-degree by definition — per-seed expansion is
# Σ_{z∈N(x)} deg(z) ≈ d̄² rows, and the r5 bench caught the all-pairs
# version at 45s while this shape runs in ~1s.  Float discipline:
# each 1/ln(d) term is rounded to 6dp and summed as exact DECIMAL, so
# scores are partition-order-free (the covariance lesson).
@query(
    "adamic_adar_parts",
    """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb, pa FROM pairs
    ),
    deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
    seeds AS (SELECT DISTINCT src AS x FROM und ORDER BY src LIMIT 8),
    wedge AS (
      SELECT s.x, e2.dst AS y, e1.dst AS z, dg.d
      FROM seeds s
      JOIN und e1 ON e1.src = s.x
      JOIN und e2 ON e2.src = e1.dst AND e2.dst <> s.x
      JOIN deg dg ON dg.z = e1.dst
    ),
    cand AS (
      SELECT w.x, w.y,
             CAST(SUM(CAST(round(1.0 / ln(CAST(w.d AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS aa,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM wedge w
      LEFT JOIN pairs p
        ON p.pa = least(w.x, w.y) AND p.pb = greatest(w.x, w.y)
      WHERE p.pa IS NULL
      GROUP BY w.x, w.y
    ),
    ranked AS (
      SELECT x, y, CAST(aa AS DOUBLE) AS aa_score, n_common,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY aa DESC, y) AS rnk
      FROM cand
    )
    SELECT x AS seed, y AS candidate, aa_score, n_common, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY seed, rnk
    """,
)
def adamic_adar_parts(spark, sf_dir):
    from ..operators.graph import undirected_edges
    pairs = _copurchase_pairs(spark, sf_dir)
    pairs = materialize(pairs, "adamic_adar_parts.pairs")
    und = undirected_edges(pairs, "pa", "pb")
    deg = und.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    # seeds = 8 smallest node ids — read them off the (node-dimension)
    # degree aggregate instead of a separate distinct over 2|E| edge
    # rows (r10: one less data-sized shuffle, identical set — deg's
    # keys ARE the distinct src values).
    seeds = deg.select(F.col("z").alias("x")).orderBy("x").limit(8)
    # seed adjacency: |seeds|·avg_deg rows — TINY.  Materialize once;
    # it feeds the wedge expansion AND the non-adjacency anti-join.
    e1 = und.join(F.broadcast(seeds), und["src"] == seeds["x"]).select(
        "x", F.col("dst").alias("z")
    )
    e1 = materialize(e1, "adamic_adar_parts.e1")
    # wedge expansion: broadcast the SEED-ADJACENT side into the edge
    # list so the 2|E| table is probed map-side, never shuffled (r10;
    # previously e2 was hash-shuffled on z).  deg is node-dimension —
    # broadcast too.
    e2 = und.select(F.col("src").alias("z"), F.col("dst").alias("y"))
    wedge = (
        e2.join(F.broadcast(e1), "z")
        .filter(F.col("y") != F.col("x"))
        .join(F.broadcast(deg), "z")
    )
    term = F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    # (x, y) is an edge iff y ∈ N(x): anti-join against the broadcast
    # seed adjacency (und is symmetric, so N(x) is complete) — the
    # previous least/greatest expression anti-join shuffled the FULL
    # pair list; this one is a map-side hash probe of a seed-bounded
    # table (r10).
    cand = (
        wedge.join(
            F.broadcast(
                e1.select(F.col("x").alias("__sx"), F.col("z").alias("__sy"))
            ),
            (F.col("x") == F.col("__sx")) & (F.col("y") == F.col("__sy")),
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(
            F.sum(term).cast("decimal(28,6)").alias("aa"),
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
        )
    )
    w = Window.partitionBy("x").orderBy(F.desc("aa"), "y")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("x").alias("seed"),
            F.col("y").alias("candidate"),
            F.col("aa").cast("double").alias("aa_score"),
            "n_common",
            "rnk",
        )
        .orderBy("seed", "rnk")
    )


# ===========================================================================
# Round-5 wave 11c: warehouse patterns — SCD Type 4 current+history,
# bitemporal (valid-time × transaction-time) snapshots, and the
# write-audit-publish gate.


# SCD Type 4 — current table + separate history table, the warehouse
# pattern for dimensions whose consumers want cheap current-state scans
# (no validity predicates) while auditors keep every superseded row.
# Runs through the REAL disk path (two VersionedParquetTable writes for
# current, one append-shaped history build), then audits BOTH tables
# back off parquet: row counts, exact balance-cents checksums, and the
# invariant that history rows are exactly batch-1 images of keys whose
# balance changed.  Batch 2 is a deterministic mutation (custkey % 7 →
# +$10), so the oracle recomputes the same audit from the raw table.
@query(
    "scd4_current_history_customers",
    """
    WITH b1 AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    b2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN cents + 1000 ELSE cents END AS cents
      FROM b1
    ),
    hist AS (
      SELECT o.c_custkey, o.cents FROM b1 o
      JOIN b2 n ON o.c_custkey = n.c_custkey AND o.cents <> n.cents
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM b2) AS n_current,
           (SELECT CAST(SUM(cents) AS BIGINT) FROM b2) AS current_cents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hist) AS n_history,
           (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM hist) AS history_cents,
           (SELECT CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM hist) AS history_key_checksum
    """,
)
def scd4_current_history_customers(spark, sf_dir):
    from ..sources.table import VersionedParquetTable

    root = _scratch_dir("scd4", sf_dir)
    cur_t = VersionedParquetTable(spark, root, "customer_current")
    hist_t = VersionedParquetTable(spark, root, "customer_history")
    c = _t(spark, sf_dir, "customer")
    b1 = c.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    cur_t.write(b1)  # v1: initial current state
    b2 = b1.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("cents") + 1000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    # SCD4 step: superseded images (changed keys only) append to
    # history; current is atomically replaced
    old = cur_t.read()
    changed = old.alias("o").join(
        b2.alias("n"),
        (F.col("o.c_custkey") == F.col("n.c_custkey"))
        & (F.col("o.cents") != F.col("n.cents")),
    ).select(F.col("o.c_custkey").alias("c_custkey"), F.col("o.cents").alias("cents"))
    hist_t.write(changed)
    cur_t.write(b2)  # v2
    cur = cur_t.read()
    hist = hist_t.read()
    audit = (
        cur.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_current"),
            F.sum("cents").cast("bigint").alias("current_cents"),
        )
        .crossJoin(
            F.broadcast(
                hist.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_history"),
                    F.coalesce(F.sum("cents"), F.lit(0))
                    .cast("bigint")
                    .alias("history_cents"),
                    F.coalesce(F.sum("c_custkey"), F.lit(0))
                    .cast("bigint")
                    .alias("history_key_checksum"),
                )
            )
        )
    )
    return _finish_scratch(audit, root)


# Bitemporal snapshots — the two-axis time-travel query: "what did we
# BELIEVE (transaction time) the world looked like, about WHEN (valid
# time)?"  Orders carry synthetic validity [orderdate, orderdate+90d);
# transaction batch 2 corrects totalprice for custkey % 11 keys,
# closing the batch-1 belief.  The snapshot operator filters both axes
# with half-open-interval semantics — both beliefs about valid date
# 1995-06-15 are emitted side by side, so the correction's effect is
# the visible delta.  Scale: each snapshot is one predicate scan (both
# interval bounds are columns — partition-prunable on valid_from), no
# join, no window.
@query(
    "bitemporal_snapshot_orders",
    """
    WITH rec AS (
      SELECT o_orderkey, o_orderstatus, o_orderdate AS valid_from,
             o_orderdate + INTERVAL 90 DAY AS valid_to,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_custkey % 11 = 0 AS corrected
      FROM orders
    ),
    bi AS (
      -- tx 1: original belief; closed at tx 2 for corrected keys
      SELECT o_orderkey, o_orderstatus, valid_from, valid_to, cents,
             1 AS tx_from, CASE WHEN corrected THEN 2 ELSE NULL END AS tx_to
      FROM rec
      UNION ALL
      -- tx 2: corrected belief (+$5) for corrected keys
      SELECT o_orderkey, o_orderstatus, valid_from, valid_to, cents + 500,
             2, NULL
      FROM rec WHERE corrected
    ),
    snap AS (
      SELECT t.as_of_tx, b.o_orderstatus, b.cents
      FROM (SELECT unnest([1, 2]) AS as_of_tx) t
      JOIN bi b ON b.tx_from <= t.as_of_tx
              AND (b.tx_to IS NULL OR b.tx_to > t.as_of_tx)
      WHERE b.valid_from <= DATE '1995-06-15'
        AND b.valid_to > DATE '1995-06-15'
    )
    SELECT as_of_tx, o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM snap GROUP BY 1, 2 ORDER BY as_of_tx, status
    """,
)
def bitemporal_snapshot_orders(spark, sf_dir):
    from ..operators.snapshots import bitemporal_snapshot

    o = _t(spark, sf_dir, "orders")
    rec = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.date_add(F.col("o_orderdate"), 90).alias("valid_to"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_custkey") % 11 == 0).alias("corrected"),
    )
    tx1 = rec.select(
        "o_orderkey",
        "o_orderstatus",
        "valid_from",
        "valid_to",
        "cents",
        F.lit(1).alias("tx_from"),
        F.when(F.col("corrected"), F.lit(2)).alias("tx_to"),
    )
    tx2 = rec.filter("corrected").select(
        "o_orderkey",
        "o_orderstatus",
        "valid_from",
        "valid_to",
        (F.col("cents") + 500).alias("cents"),
        F.lit(2).alias("tx_from"),
        F.lit(None).cast("int").alias("tx_to"),
    )
    bi = tx1.unionByName(tx2)
    out = []
    for tx in (1, 2):
        snap = bitemporal_snapshot(
            bi, tx_at=tx, valid_at="1995-06-15"
        )
        out.append(
            snap.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            )
            .select(
                F.lit(tx).alias("as_of_tx"),
                F.col("o_orderstatus").alias("status"),
                "n_orders",
                "total_cents",
            )
        )
    return out[0].unionByName(out[1]).orderBy("as_of_tx", "status")


# Write-audit-publish — the production gate that keeps a bad batch out
# of the serving table: batch 2 (with deterministically injected
# corruption: negated totalprice on custkey % 13) is STAGED and
# audited; the audit fails, so the publish step never swaps the
# version pointer and readers keep seeing the clean v1.  The query
# returns the audit findings plus the served table's checksum — equal
# to the clean batch by construction, which the oracle recomputes from
# raw.  The staging write is a real VersionedParquetTable version that
# simply never becomes the pointer target (same atomicity discipline
# as truncate-then-load, sources/table.py).
@query(
    "wap_publish_audit_orders",
    """
    WITH clean AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    staged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN -cents ELSE cents END AS cents
      FROM clean
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM staged WHERE cents < 0)
             AS n_negative_found,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM staged WHERE cents IS NULL)
             AS n_null_found,
           FALSE AS audit_passed,
           FALSE AS published,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM clean) AS served_rows,
           (SELECT CAST(SUM(cents) AS BIGINT) FROM clean) AS served_cents
    """,
)
def wap_publish_audit_orders(spark, sf_dir):
    from ..sources.table import VersionedParquetTable

    root = _scratch_dir("wap", sf_dir)
    t = VersionedParquetTable(spark, root, "orders_serving")
    o = _t(spark, sf_dir, "orders")
    clean = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    t.write(clean)  # v1 published
    v_published = t.current_version()
    staged = clean.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, -F.col("cents"))
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    # WRITE: stage as a content dir WITHOUT advancing the pointer —
    # write() advances, so stage to a sibling table and only repoint
    # (i.e. write to the serving table) on audit pass.
    stage_t = VersionedParquetTable(spark, root, "orders_staging")
    stage_t.write(staged)
    back = stage_t.read()
    # AUDIT over the staged files themselves (what would be served)
    findings = back.agg(
        F.sum((F.col("cents") < 0).cast("int")).cast("bigint").alias(
            "n_negative_found"
        ),
        F.sum(F.col("cents").isNull().cast("int")).cast("bigint").alias(
            "n_null_found"
        ),
    ).collect()[0]
    audit_passed = findings.n_negative_found == 0 and findings.n_null_found == 0
    if audit_passed:  # PUBLISH
        t.write(back)
    served = t.read(t.current_version())
    audit = served.agg(
        F.count(F.lit(1)).cast("bigint").alias("served_rows"),
        F.sum("cents").cast("bigint").alias("served_cents"),
    ).select(
        F.lit(findings.n_negative_found).cast("bigint").alias("n_negative_found"),
        F.lit(findings.n_null_found).cast("bigint").alias("n_null_found"),
        F.lit(bool(audit_passed)).alias("audit_passed"),
        F.lit(bool(audit_passed)).alias("published"),
        "served_rows",
        "served_cents",
    )
    return _finish_scratch(audit, root)


# ===========================================================================
# Round-5 wave 11d: mixed-format REAL image decode, value-checked.


# Mixed-media decode — the ingest shape of a real media lake: ONE
# binary column holding P6 PPM, P5 PGM, and 24-bit BMP payloads,
# magic-byte sniffed and decoded by the repo's pure-numpy decoders
# (operators/multimodal.py — BMP exercises the format's real quirks:
# BGR order, 4-byte stride padding, bottom-up rows).  Payloads are
# synthesized DETERMINISTICALLY from doc_id (format = doc_id % 3,
# dims and pixel values are modular functions of doc_id), so the
# DuckDB oracle recomputes every width/height/channel-mean in closed
# form WITHOUT decoding — if the decoder mishandled padding, channel
# order, or row order, the means would not reconcile.  The decode runs
# Arrow-batched through mapInPandas (whole columns per batch), the
# multimodal scale shape.
@query(
    "mixed_media_decode_stats",
    """
    WITH d AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'ppm'
                  WHEN 1 THEN 'pgm' ELSE 'bmp' END AS format,
             CAST(4 + doc_id % 5 AS INTEGER) AS w,
             CAST(3 + doc_id % 4 AS INTEGER) AS h
      FROM documents WHERE doc_id % 17 = 0
    ),
    px AS (
      SELECT d.doc_id, d.format, d.w, d.h, y.y, x.x
      FROM d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x
    ),
    m AS (
      SELECT doc_id, format, w, h,
             CASE WHEN format = 'pgm'
                  THEN AVG(CAST((doc_id * 31 + y * w + x) % 256 AS DOUBLE))
                  ELSE AVG(CAST((doc_id * 31 + (y * w + x) * 3 + 0) % 256 AS DOUBLE))
             END AS mean_r,
             CASE WHEN format = 'pgm'
                  THEN AVG(CAST((doc_id * 31 + y * w + x) % 256 AS DOUBLE))
                  ELSE AVG(CAST((doc_id * 31 + (y * w + x) * 3 + 1) % 256 AS DOUBLE))
             END AS mean_g,
             CASE WHEN format = 'pgm'
                  THEN AVG(CAST((doc_id * 31 + y * w + x) % 256 AS DOUBLE))
                  ELSE AVG(CAST((doc_id * 31 + (y * w + x) * 3 + 2) % 256 AS DOUBLE))
             END AS mean_b
      FROM px GROUP BY doc_id, format, w, h
    )
    SELECT doc_id, format, w AS width, h AS height,
           round(mean_r, 6) AS mean_r,
           round(mean_g, 6) AS mean_g,
           round(mean_b, 6) AS mean_b
    FROM m ORDER BY doc_id
    """,
)
def mixed_media_decode_stats(spark, sf_dir):
    import pandas as pd

    from ..operators.multimodal import (
        encode_bmp,
        encode_pgm,
        encode_ppm,
        image_stats_any,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0).select(
        "doc_id"
    )

    def synth(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                if d % 3 == 1:  # pgm
                    idx = np.arange(h * w, dtype=np.int64)
                    arr = ((d * 31 + idx) % 256).astype(np.uint8).reshape(h, w)
                    payloads.append(encode_pgm(arr))
                else:
                    idx = np.arange(h * w * 3, dtype=np.int64)
                    arr = ((d * 31 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
                    payloads.append(
                        encode_ppm(arr) if d % 3 == 0 else encode_bmp(arr)
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(synth, schema="doc_id long, content binary")
    stats = image_stats_any(media)
    return stats.select(
        "doc_id",
        "format",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("doc_id")
