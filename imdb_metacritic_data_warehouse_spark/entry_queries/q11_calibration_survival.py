"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _events, _t, _units4, global_row_number, materialize, query
from .q02_pipeline_parity import Window
from .q03_dedup_lsh import _QUALITY_SQL
from .q09_quality_cdc import _gopher_per_doc



# ---------------------------------------------------------------------------
# Round-7 wave 23 — isotonic calibration (PAV), Bradley-Terry
# preference strengths, frequent 3-itemsets.

# Isotonic calibration of the quality scorer via Pool-Adjacent-
# Violators — the monotone regression that turns the reliability
# diagram into a usable calibration MAP (what Platt/isotonic layers do
# after a cheap classifier).  On the 10-bin decile grid PAV has the
# closed minimax form fitted(k) = max_{i<=k} min_{j>=k} pool(i,j)
# (pool = pooled positive rate over bins i..j) — 55 intervals, all
# broadcast-sized after the corpus reduction.  Parity: every pool is
# ONE correctly-rounded division of exact int64 sums (bit-identical
# both engines), and min/max over identical doubles is exact — no
# rounding needed before the display round-6.
@query(
    "isotonic_calibration_docs",
    f"""
    WITH scored AS (
      SELECT doc_id, {_QUALITY_SQL} AS q FROM documents
    ),
    t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    c AS (SELECT doc_id, w, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    d AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS nw,
             CAST(SUM(cnt * length(w)) AS BIGINT) AS sumlen,
             CAST(MAX(cnt) AS BIGINT) AS mx,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN w IN ('the','a','of','to','and','in')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nstop
      FROM c GROUP BY 1
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN nw >= 25 AND nw <= 100000
                   AND 3 * nw <= sumlen AND sumlen <= 5 * nw
                   AND 8 * mx <= nw AND 5 * nd >= 2 * nw
                   AND nstop >= 2 THEN 1 ELSE 0 END AS y
      FROM d
    ),
    dec AS (
      SELECT least(CAST(floor(s.q * 10) AS INTEGER), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(l.y) AS BIGINT) AS n_pos
      FROM scored s JOIN lab l ON s.doc_id = l.doc_id
      GROUP BY 1
    ),
    ivals AS (
      SELECT a.bin AS i, b.bin AS j,
             CAST(SUM(m.n) AS BIGINT) AS nn,
             CAST(SUM(m.n_pos) AS BIGINT) AS pp
      FROM dec a JOIN dec b ON a.bin <= b.bin
      JOIN dec m ON m.bin BETWEEN a.bin AND b.bin
      GROUP BY a.bin, b.bin
    ),
    mins AS (
      SELECT iv.i, k.bin AS k,
             MIN(CAST(iv.pp AS DOUBLE) / CAST(iv.nn AS DOUBLE)) AS minpool
      FROM ivals iv JOIN dec k ON iv.i <= k.bin AND k.bin <= iv.j
      GROUP BY iv.i, k.bin
    ),
    fit AS (SELECT k AS bin, MAX(minpool) AS fitted FROM mins GROUP BY k)
    SELECT d.bin, d.n, d.n_pos,
           round(CAST(d.n_pos AS DOUBLE) / CAST(d.n AS DOUBLE), 6) AS raw_rate,
           round(f.fitted, 6) AS fitted_rate
    FROM dec d JOIN fit f USING (bin)
    ORDER BY d.bin
    """,
)
def isotonic_calibration_docs(spark, sf_dir):
    from ..operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", quality_score(F.col("text")).alias("q"))
    g = _gopher_per_doc(spark, sf_dir)
    lab = g.select(
        "doc_id",
        F.when(
            (F.col("nw") >= 25) & (F.col("nw") <= 100000)
            & (3 * F.col("nw") <= F.col("sumlen"))
            & (F.col("sumlen") <= 5 * F.col("nw"))
            & (8 * F.col("mx") <= F.col("nw"))
            & (5 * F.col("nd") >= 2 * F.col("nw"))
            & (F.col("nstop") >= 2),
            1,
        ).otherwise(0).alias("y"),
    )
    dec = (
        scored.join(lab, "doc_id")
        .groupBy(
            F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9)).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    # <=10 rows; feeds intervals, mins and output
    dec = materialize(dec, "isotonic_calibration_docs.dec")
    a = dec.select(F.col("bin").alias("i"))
    b = dec.select(F.col("bin").alias("j"))
    m = dec.select(F.col("bin").alias("mid"), "n", "n_pos")
    ivals = (
        F.broadcast(a)
        .join(b, F.col("i") <= F.col("j"))
        .join(
            F.broadcast(m),
            (F.col("mid") >= F.col("i")) & (F.col("mid") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("n").cast("bigint").alias("nn"),
            F.sum("n_pos").cast("bigint").alias("pp"),
        )
    )
    ks = dec.select(F.col("bin").alias("k"))
    mins = (
        ivals.join(
            F.broadcast(ks), (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j"))
        )
        .groupBy("i", "k")
        .agg(F.min(F.col("pp").cast("double") / F.col("nn").cast("double")).alias("mp"))
    )
    fit = mins.groupBy(F.col("k").alias("bin")).agg(F.max("mp").alias("fitted"))
    return (
        dec.join(fit, "bin")
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
            .alias("raw_rate"),
            F.round("fitted", 6).alias("fitted_rate"),
        )
        .orderBy("bin")
    )


# Bradley-Terry preference strengths — the pairwise-comparison model
# behind preference-data pipelines (RLHF reward modeling, ranking from
# A/B outcomes), fit with two unrolled minorize-maximize iterations:
# p_i ← W_i / Σ_j n_ij/(p_i+p_j).  Contests: within an order, the
# brand with the higher exact spend beats the lower (ties skipped —
# exact integer spends).  Parity discipline: every per-iteration sum
# folds its ≤24 neighbor terms in brand order via the SAME left fold
# (Spark aggregate() ≡ DuckDB list_reduce — the Holt-fold precedent);
# each term is one correctly-rounded division of identical doubles
# (p's are round-6 from the previous iteration), so the folds are
# bit-identical.  Scale: contests reduce to a brand-pair matrix (≤
# brands², dimension-sized) in one map-side pair expansion bounded by
# ≤7 lines/order — the iterations never touch the fact table again.
@query(
    "bradley_terry_brands",
    """
    WITH ob AS (
      SELECT l.l_orderkey AS o, p.p_brand AS b,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) * 10000
                           AS BIGINT)) AS BIGINT) AS spend
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    c AS (
      SELECT CASE WHEN a.spend > b.spend THEN a.b ELSE b.b END AS wb,
             CASE WHEN a.spend > b.spend THEN b.b ELSE a.b END AS lb
      FROM ob a JOIN ob b ON a.o = b.o AND a.b < b.b
      WHERE a.spend <> b.spend
    ),
    dw AS (SELECT wb, lb, CAST(COUNT(*) AS BIGINT) AS w_ij FROM c GROUP BY 1, 2),
    np AS (
      SELECT i, j, CAST(SUM(n) AS BIGINT) AS n_ij FROM (
        SELECT wb AS i, lb AS j, w_ij AS n FROM dw
        UNION ALL SELECT lb, wb, w_ij FROM dw
      ) GROUP BY 1, 2
    ),
    wins AS (
      SELECT np.i, CAST(COALESCE(MAX(wsum.w), 0) AS BIGINT) AS w,
             CAST(SUM(np.n_ij) AS BIGINT) AS contests
      FROM np LEFT JOIN (
        SELECT wb, CAST(SUM(w_ij) AS BIGINT) AS w FROM dw GROUP BY 1
      ) wsum ON np.i = wsum.wb
      GROUP BY np.i
    ),
    s1 AS (
      SELECT i, list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CAST(n_ij AS DOUBLE) / 2.0 ORDER BY j)), (a, b) -> a + b) AS s
      FROM np GROUP BY i
    ),
    p1 AS (
      SELECT w.i, round(CAST(w.w AS DOUBLE) / s1.s, 6) AS p
      FROM wins w JOIN s1 ON w.i = s1.i
    ),
    s2 AS (
      SELECT np.i, list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CAST(np.n_ij AS DOUBLE) / (pi.p + pj.p) ORDER BY np.j)),
               (a, b) -> a + b) AS s
      FROM np JOIN p1 pi ON np.i = pi.i JOIN p1 pj ON np.j = pj.i
      GROUP BY np.i
    ),
    p2 AS (
      SELECT w.i, round(CAST(w.w AS DOUBLE) / s2.s, 6) AS p
      FROM wins w JOIN s2 ON w.i = s2.i
    )
    SELECT w.i AS brand, w.contests, w.w AS wins,
           p1.p AS strength_1, p2.p AS strength_2
    FROM wins w JOIN p1 ON w.i = p1.i JOIN p2 ON w.i = p2.i
    ORDER BY strength_2 DESC, brand
    """,
)
def bradley_terry_brands(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(pt.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .agg(F.sum(_units4("l_extendedprice")).cast("long").alias("spend"))
    )
    per = ob.groupBy("o").agg(
        F.sort_array(F.collect_list(F.struct("b", "spend"))).alias("bs")
    )
    # in-task pair expansion bounded by <=7 lines/order (graph-edge
    # discipline) -> directed win counts at brand-pair grain
    c = per.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) ->"
                " transform(slice(bs, i + 2, size(bs)), y -> struct("
                " CASE WHEN x.spend > y.spend THEN x.b ELSE y.b END AS wb,"
                " CASE WHEN x.spend > y.spend THEN y.b ELSE x.b END AS lb,"
                " x.spend = y.spend AS tie))))"
            )
        ).alias("p")
    ).filter(~F.col("p.tie")).select("p.wb", "p.lb")
    dw = c.groupBy("wb", "lb").agg(F.count(F.lit(1)).cast("long").alias("w_ij"))
    dw = materialize(dw, "bradley_terry_brands.dw")  # brand-pair matrix: wins, np, and both folds
    np_ = (
        dw.select(F.col("wb").alias("i"), F.col("lb").alias("j"), F.col("w_ij").alias("n"))
        .unionByName(
            dw.select(F.col("lb").alias("i"), F.col("wb").alias("j"),
                      F.col("w_ij").alias("n"))
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("long").alias("n_ij"))
    )
    np_ = materialize(np_, "bradley_terry_brands.np_")
    wsum = dw.groupBy(F.col("wb").alias("i")).agg(
        F.sum("w_ij").cast("long").alias("wnum")
    )
    wins = (
        np_.groupBy("i")
        .agg(F.sum("n_ij").cast("long").alias("contests"))
        .join(wsum, "i", "left")
        .select("i", F.coalesce("wnum", F.lit(0)).cast("long").alias("w"), "contests")
    )
    wins = materialize(wins, "bradley_terry_brands.wins")

    def _fold_sum(df_terms):
        """Ordered left fold of (j, term) in brand order — the exact
        twin of the oracle's list_reduce(list_prepend(0.0, list(...)))."""
        return (
            df_terms.groupBy("i")
            .agg(F.sort_array(F.collect_list(F.struct("j", "term"))).alias("ts"))
            .select(
                "i",
                F.aggregate(
                    "ts", F.lit(0.0), lambda acc, x: acc + x["term"]
                ).alias("s"),
            )
        )

    s1 = _fold_sum(
        np_.select("i", "j", (F.col("n_ij").cast("double") / F.lit(2.0)).alias("term"))
    )
    p1 = wins.join(s1, "i").select(
        "i", F.round(F.col("w").cast("double") / F.col("s"), 6).alias("p")
    )
    p1 = materialize(p1, "bradley_terry_brands.p1")  # both sides of the second-iteration join
    s2 = _fold_sum(
        np_.join(p1.select(F.col("i"), F.col("p").alias("p_i")), "i")
        .join(
            p1.select(F.col("i").alias("j"), F.col("p").alias("p_j")), "j"
        )
        .select(
            "i", "j",
            (F.col("n_ij").cast("double") / (F.col("p_i") + F.col("p_j"))).alias(
                "term"
            ),
        )
    )
    p2 = wins.join(s2, "i").select(
        "i", F.round(F.col("w").cast("double") / F.col("s"), 6).alias("p")
    )
    return (
        wins.join(p1.select("i", F.col("p").alias("strength_1")), "i")
        .join(p2.select("i", F.col("p").alias("strength_2")), "i")
        .select(
            F.col("i").alias("brand"), "contests", F.col("w").alias("wins"),
            "strength_1", "strength_2",
        )
        .orderBy(F.desc("strength_2"), "brand")
    )


# Frequent 3-itemsets with lift — the market-basket step past the
# existing pair rules (association_rules_parts): triple support needs
# the cubic expansion BOUNDED IN-TASK (sorted distinct brands per
# order, <=7 -> <=35 triples emitted map-side; never a 3-way shuffle
# self-join at fact scale — that is the oracle's job).  Lift vs the
# independence baseline is computed as a FIXED chain of
# correctly-rounded double ops ((supp/s_a)·(n/s_b)·(n/s_c)) — exact
# int products would overflow 2^53 at large N, the chained form is
# bit-identical at any magnitude.  Deterministic top-20 cut.
@query(
    "frequent_triples_parts",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM ob),
    s1 AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM ob GROUP BY 1),
    t3 AS (
      SELECT a.b AS ba, b.b AS bb, c.b AS bc, CAST(COUNT(*) AS BIGINT) AS supp
      FROM ob a
      JOIN ob b ON a.o = b.o AND a.b < b.b
      JOIN ob c ON b.o = c.o AND b.b < c.b
      GROUP BY 1, 2, 3
    ),
    top AS (
      SELECT ba, bb, bc, supp,
             row_number() OVER (ORDER BY supp DESC, ba, bb, bc) AS rnk
      FROM t3 QUALIFY rnk <= 20
    )
    SELECT t.rnk, t.ba, t.bb, t.bc, t.supp,
           round(((CAST(t.supp AS DOUBLE) / CAST(sa.s AS DOUBLE))
                  * (CAST(nn.n AS DOUBLE) / CAST(sb.s AS DOUBLE)))
                 * (CAST(nn.n AS DOUBLE) / CAST(sc.s AS DOUBLE)), 6) AS lift
    FROM top t
    JOIN s1 sa ON t.ba = sa.b
    JOIN s1 sb ON t.bb = sb.b
    JOIN s1 sc ON t.bc = sc.b
    CROSS JOIN nn
    ORDER BY t.rnk
    """,
)
def frequent_triples_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(pt.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    # triples, singles and the order count read it
    ob = materialize(ob, "frequent_triples_parts.ob")
    nn = ob.agg(F.countDistinct("o").cast("long").alias("n"))
    s1 = ob.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("s"))
    per = ob.groupBy("o").agg(F.sort_array(F.collect_set("b")).alias("bs"))
    t3 = (
        per.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " flatten(transform(slice(bs, i + 2, size(bs)), (y, j) ->"
                    " transform(slice(bs, i + j + 3, size(bs)),"
                    " z -> struct(x AS ba, y AS bb, z AS bc))))))"
                )
            ).alias("t")
        )
        .select("t.ba", "t.bb", "t.bc")
        .groupBy("ba", "bb", "bc")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
    )
    top = (
        t3.orderBy(F.desc("supp"), "ba", "bb", "bc")
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("supp"), "ba", "bb", "bc")
            ),
        )
    )
    return (
        top.join(F.broadcast(s1.select(F.col("b").alias("ba"),
                                       F.col("s").alias("s_a"))), "ba")
        .join(F.broadcast(s1.select(F.col("b").alias("bb"),
                                    F.col("s").alias("s_b"))), "bb")
        .join(F.broadcast(s1.select(F.col("b").alias("bc"),
                                    F.col("s").alias("s_c"))), "bc")
        .crossJoin(F.broadcast(nn))
        .select(
            "rnk", "ba", "bb", "bc", "supp",
            F.round(
                (
                    (F.col("supp").cast("double") / F.col("s_a").cast("double"))
                    * (F.col("n").cast("double") / F.col("s_b").cast("double"))
                )
                * (F.col("n").cast("double") / F.col("s_c").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Round-7 wave 24 — Kaplan-Meier survival curve, Page-Hinkley drift,
# linear gap interpolation, quantile normalization.

# Kaplan-Meier SURVIVAL CURVE — the product-limit estimator S(t) =
# Π_{s<=t}(1 − d_s/n_s) completing hazard_table_users (which stops at
# per-day hazards).  The prefix PRODUCT over the calendar spine is the
# one shape no cumulative window expresses; exp(Σ ln) is banned for
# parity (ln/exp are not correctly rounded).  Spark-first answer: the
# spine is calendar-bounded (the cusum argument), so the whole curve
# folds inside ONE array — prefix products via aggregate(slice(...)) —
# an O(days²) fold on a dimension-sized array, bit-identical to
# DuckDB's list_reduce twin because float multiplication is correctly
# rounded and both engines fold in ascending day order.
@query(
    "km_survival_users",
    """
    WITH life AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS fd, MAX(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id
    ),
    bounds AS (SELECT MIN(fd) AS d0, MAX(ld) AS d1 FROM life),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM bounds
    ),
    starts AS (SELECT fd AS d, COUNT(*) AS ns FROM life GROUP BY fd),
    ends AS (SELECT ld AS d, COUNT(*) AS ne FROM life GROUP BY ld),
    cum AS (
      SELECT s.d,
             SUM(COALESCE(st.ns, 0)) OVER (ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             SUM(COALESCE(en.ne, 0)) OVER (ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
             COALESCE(en.ne, 0) AS churned
      FROM spine s
      LEFT JOIN starts st ON s.d = st.d
      LEFT JOIN ends en ON s.d = en.d
    ),
    rows_ AS (
      -- at_risk=0 (a gap day after every started user ended) would
      -- make the factor 0/0=NaN and the prefix product would poison
      -- every later survival value (ADVICE r7) — zero-risk days
      -- contribute factor 1.0 (no one at risk -> no hazard).
      SELECT d, CAST(cs - (ce - churned) AS BIGINT) AS at_risk,
             CAST(churned AS BIGINT) AS churned,
             CASE WHEN cs - (ce - churned) > 0
                  THEN 1.0 - CAST(churned AS DOUBLE) / (cs - (ce - churned))
                  ELSE 1.0 END AS factor
      FROM cum
    ),
    arr AS (
      SELECT list(struct_pack(d := d, at_risk := at_risk,
                              churned := churned, factor := factor)
                  ORDER BY d) AS a
      FROM rows_
    ),
    curve AS (
      SELECT unnest(list_transform(range(1, len(a) + 1), i -> struct_pack(
               d := a[i].d, at_risk := a[i].at_risk, churned := a[i].churned,
               factor := a[i].factor,
               surv := list_reduce(
                 list_prepend(CAST(1 AS DOUBLE),
                              list_transform(a[1:i], z -> z.factor)),
                 (p, q) -> p * q)))) AS r
      FROM arr
    )
    SELECT CAST(r.d AS VARCHAR) AS day, r.at_risk, r.churned,
           round(1.0 - r.factor, 6) AS hazard,
           round(r.surv, 6) AS survival
    FROM curve ORDER BY day
    """,
)
def km_survival_users(spark, sf_dir):
    e = _events(spark, sf_dir)
    life = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"), F.max(F.to_date("ts")).alias("ld")
    )
    life = materialize(life, "km_survival_users.life")  # bounds, starts and ends all read it
    bounds = life.agg(F.min("fd").alias("d0"), F.max("ld").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    starts = life.groupBy(F.col("fd").alias("d")).agg(F.count(F.lit(1)).alias("ns"))
    ends = life.groupBy(F.col("ld").alias("d")).agg(F.count(F.lit(1)).alias("ne"))
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        spine.join(starts, "d", "left")
        .join(ends, "d", "left")
        .select(
            "d",
            F.sum(F.coalesce("ns", F.lit(0))).over(wcum).alias("cs"),
            F.sum(F.coalesce("ne", F.lit(0))).over(wcum).alias("ce"),
            F.coalesce("ne", F.lit(0)).alias("churned"),
        )
    )
    at_risk = F.col("cs") - (F.col("ce") - F.col("churned"))
    rows_ = cum.select(
        "d",
        at_risk.cast("bigint").alias("at_risk"),
        F.col("churned").cast("bigint").alias("churned"),
        # zero-risk gap days: 0/0 would NaN-poison the prefix product
        # (ADVICE r7) — no one at risk means factor 1.0.
        F.when(
            at_risk > 0,
            F.lit(1.0) - F.col("churned").cast("double") / at_risk,
        )
        .otherwise(F.lit(1.0))
        .alias("factor"),
    )
    one = rows_.agg(
        F.sort_array(
            F.collect_list(F.struct("d", "at_risk", "churned", "factor"))
        ).alias("a")
    )
    curve = one.select(
        F.explode(
            F.expr(
                "transform(a, (x, i) -> struct("
                " x.d AS d, x.at_risk AS at_risk, x.churned AS churned,"
                " x.factor AS factor,"
                " aggregate(slice(a, 1, i + 1), CAST(1.0 AS DOUBLE),"
                "           (acc, y) -> acc * y.factor) AS surv))"
            )
        ).alias("r")
    )
    return curve.select(
        F.col("r.d").cast("string").alias("day"),
        F.col("r.at_risk").alias("at_risk"),
        F.col("r.churned").alias("churned"),
        F.round(F.lit(1.0) - F.col("r.factor"), 6).alias("hazard"),
        F.round(F.col("r.surv"), 6).alias("survival"),
    ).orderBy("day")


# Page-Hinkley mean-drift detector over daily revenue — the sequential
# changepoint test beside CUSUM (which tests against the GLOBAL mean;
# PH tests each day against the RUNNING mean, the online-monitoring
# form).  m_T = Σ_{t<=T}(x_t − μ̂_t − δ), PH_T = max_{s<=T} m_s − m_T,
# alarm when PH > λ.  Parity: the per-day deviations are quotients of
# exact int64s with ARBITRARY denominators t, so no rounding scale is
# tie-free (rule #4 — the first draft round-6'd them and hit exact
# half-way splits at sf0.01); instead the raw deviations (identical
# doubles: one correctly-rounded division chain) fold to prefix sums
# inside ONE calendar-bounded array, ascending-day left folds both
# engines reproduce bit-identically (the km_survival discipline), and
# the max/alarm compare those identical doubles directly.
@query(
    "page_hinkley_daily",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                           AS BIGINT)) AS BIGINT) AS xu
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT d, xu,
             row_number() OVER (ORDER BY d) AS t,
             SUM(xu) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS su
      FROM daily
    ),
    devs AS (
      SELECT d, t, su,
             CAST(xu * t - su AS DOUBLE) / CAST(t AS DOUBLE) / 10000.0
               - 100.0 AS dev
      FROM seq
    ),
    arr AS (
      SELECT list(struct_pack(d := d, t := t, su := su, dev := dev)
                  ORDER BY d) AS a
      FROM devs
    ),
    m AS (
      SELECT unnest(list_transform(range(1, len(a) + 1), i -> struct_pack(
               d := a[i].d, t := a[i].t, su := a[i].su,
               m_val := list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list_transform(a[1:i], z -> z.dev)),
                 (p, q) -> p + q)))) AS r
      FROM arr
    ),
    ph AS (
      SELECT r.d AS d, r.t AS t, r.su AS su, r.m_val AS m_val,
             MAX(r.m_val) OVER (ORDER BY r.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
      FROM m
    )
    SELECT CAST(d AS VARCHAR) AS day,
           CAST((su * 100) // (t * 10000) AS BIGINT) AS running_mean_cents,
           round(m_val / 1000000.0, 6) AS m_stat_mm,
           round((mx - m_val) / 1000000.0, 6) AS ph_stat_mm,
           CASE WHEN mx - m_val > 5000.0 THEN 1 ELSE 0 END AS is_alarm
    FROM ph ORDER BY day
    """,
)
def page_hinkley_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(_units4("o_totalprice")).cast("long").alias("xu")
    )
    wday = Window.orderBy("d")
    wcum = wday.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "d", "xu",
        F.row_number().over(wday).alias("t"),
        F.sum("xu").over(wcum).alias("su"),
    )
    devs = seq.select(
        "d", "t", "su",
        (
            (F.col("xu") * F.col("t") - F.col("su")).cast("double")
            / F.col("t").cast("double")
            / F.lit(10000.0)
            - F.lit(100.0)
        ).alias("dev"),
    )
    one = devs.agg(
        F.sort_array(F.collect_list(F.struct("d", "t", "su", "dev"))).alias("a")
    )
    m = one.select(
        F.explode(
            F.expr(
                "transform(a, (x, i) -> struct("
                " x.d AS d, x.t AS t, x.su AS su,"
                " aggregate(slice(a, 1, i + 1), CAST(0.0 AS DOUBLE),"
                "           (acc, y) -> acc + y.dev) AS m_val))"
            )
        ).alias("r")
    ).select("r.d", "r.t", "r.su", "r.m_val")
    ph = m.select(
        "d", "t", "su", "m_val", F.max("m_val").over(wcum).alias("mx")
    )
    # display scales chosen so the rounding grid stays ORDERS OF
    # MAGNITUDE above the double's ulp at the value's magnitude (m ~1e8
    # dollars: ulp 1.5e-8 vs a 1e-6 grid collided once per ~100 rows at
    # sf0.1 — engines' round() split within-ulp boundary cases); in
    # millions the ratio is ~1e-8.  The alarm compares the RAW
    # identical doubles, so it is exact at any scale.
    return ph.select(
        F.col("d").cast("string").alias("day"),
        # running mean as floor-truncated integer cents: su/t is a
        # rational with arbitrary denominator, so ANY float rounding
        # scale has pinned half-way ties (rule #4) — integer floor
        # division is exact in both engines
        F.expr("CAST((su * 100) DIV (t * 10000) AS BIGINT)").alias(
            "running_mean_cents"
        ),
        F.round(F.col("m_val") / F.lit(1000000.0), 6).alias("m_stat_mm"),
        F.round((F.col("mx") - F.col("m_val")) / F.lit(1000000.0), 6)
        .alias("ph_stat_mm"),
        F.when(F.col("mx") - F.col("m_val") > F.lit(5000.0), 1)
        .otherwise(0).alias("is_alarm"),
    ).orderBy("day")


# Linear interpolation across sensor gaps — the resampling twin of
# gap_fill_user_hours (carry-forward): missing hours take the value on
# the straight line between neighboring observations.  Spark-first
# scale shape: the interpolated values over a gap of length g form an
# ARITHMETIC SERIES, so each gap aggregates analytically —
# Σ interp = (pv+nv)·(g−1)/2 — and the query never materializes the
# hour spine at all (the first draft exploded a ~17k-hour spine per
# user and ran 21.8s at sf0.1; this runs windows only over OBSERVED
# hourly rows, bounded by user activity).  Parity: per-hour values
# su/n and the gap terms are identical doubles (fixed division/mult
# chains); per-user totals fold them in hour order (sort_array +
# aggregate ≡ list_reduce); one display round-6 of an unpinned real.
@query(
    "linear_interp_user_hours",
    """
    WITH hourly AS (
      SELECT user_id, CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                  AS BIGINT) AS su
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    ),
    lagged AS (
      SELECT user_id, hi, n, su,
             CAST(su AS DOUBLE) / CAST(n AS DOUBLE) AS v,
             lag(CAST(su AS DOUBLE) / CAST(n AS DOUBLE))
               OVER (PARTITION BY user_id ORDER BY hi) AS pv,
             hi - lag(hi) OVER (PARTITION BY user_id ORDER BY hi) AS gap
      FROM hourly
    ),
    terms AS (
      SELECT user_id, hi, v,
             CASE WHEN gap IS NOT NULL AND gap > 1
                  THEN (pv + v) * CAST(gap - 1 AS DOUBLE) / 2.0
                  ELSE CAST(0 AS DOUBLE) END AS gterm,
             CASE WHEN gap IS NOT NULL THEN gap - 1 ELSE 0 END AS n_gap
      FROM lagged
    ),
    per_user AS (
      SELECT user_id,
             CAST(MAX(hi) - MIN(hi) + 1 AS BIGINT) AS n_hours,
             CAST(COUNT(*) AS BIGINT) AS n_observed,
             CAST(SUM(n_gap) AS BIGINT) AS n_interpolated,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(v ORDER BY hi)),
                         (p, q) -> p + q) AS sv,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(gterm ORDER BY hi)),
                         (p, q) -> p + q) AS st
      FROM terms GROUP BY user_id
    )
    SELECT user_id, n_hours, n_observed, n_interpolated,
           round((sv + st) / CAST(n_hours AS DOUBLE) / 10000.0, 6)
             AS mean_filled
    FROM per_user ORDER BY user_id
    """,
)
def linear_interp_user_hours(spark, sf_dir):
    e = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    hourly = e.groupBy(
        "user_id",
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("hi"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_units4("value")).cast("long").alias("su"),
    )
    w = Window.partitionBy("user_id").orderBy("hi")
    v = F.col("su").cast("double") / F.col("n").cast("double")
    lagged = hourly.select(
        "user_id", "hi",
        v.alias("v"),
        F.lag(v).over(w).alias("pv"),
        (F.col("hi") - F.lag("hi").over(w)).alias("gap"),
    )
    terms = lagged.select(
        "user_id", "hi", "v",
        F.when(
            F.col("gap").isNotNull() & (F.col("gap") > 1),
            (F.col("pv") + F.col("v")) * (F.col("gap") - 1).cast("double") / 2.0,
        ).otherwise(F.lit(0.0)).alias("gterm"),
        F.when(F.col("gap").isNotNull(), F.col("gap") - 1)
        .otherwise(F.lit(0)).alias("n_gap"),
    )
    per_user = terms.groupBy("user_id").agg(
        (F.max("hi") - F.min("hi") + 1).cast("bigint").alias("n_hours"),
        F.count(F.lit(1)).cast("bigint").alias("n_observed"),
        F.sum("n_gap").cast("bigint").alias("n_interpolated"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(hi, v))),"
            " s -> s.v), CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        ).alias("sv"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(hi, gterm))),"
            " s -> s.gterm), CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        ).alias("st"),
    )
    return per_user.select(
        "user_id", "n_hours", "n_observed", "n_interpolated",
        F.round(
            (F.col("sv") + F.col("st"))
            / F.col("n_hours").cast("double")
            / F.lit(10000.0),
            6,
        ).alias("mean_filled"),
    ).orderBy("user_id")


# Quantile normalization of embedding dimensions — the feature-prep
# transform (classic in bioinformatics, used on feature columns before
# quantization) that forces every dimension onto the SAME distribution:
# the rank-r value of each dim becomes the cross-dim average of rank-r
# values.  Spark-first: per-dim ranks need NO per-dim window (64
# partitions = skew cliff) — ONE two-phase global rank over
# (dim, value, vec_id), then rank_in_dim = rn − dim·N because every
# dim has exactly N values (arithmetic, no join).  Values quantize to
# the 1e-7 integer grid (finer than float32 resolution — the exact-Gram
# discipline), so profiles and shift sums are exact integers.
@query(
    "quantile_normalize_embeddings",
    """
    WITH x AS (
      SELECT vec_id, u.i AS dim,
             CAST(floor(CAST(u.v AS DOUBLE) * 10000000 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT vec_id,
               unnest(list_transform(embedding::DOUBLE[], (v, i) ->
                 struct_pack(v := v, i := i - 1))) AS u
        FROM embeddings
      )
    ),
    r AS (
      SELECT dim, q,
             row_number() OVER (PARTITION BY dim ORDER BY q, vec_id) AS rk
      FROM (SELECT vec_id, dim, q FROM x)
    ),
    prof AS (
      SELECT rk, CAST(SUM(q) AS BIGINT) AS psum FROM r GROUP BY rk
    ),
    shifted AS (
      SELECT r.dim, r.q, p.psum,
             abs(r.q * 64 - p.psum) AS shift_u
      FROM r JOIN prof p ON r.rk = p.rk
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 10000000.0, 6) AS mean_raw,
           round(CAST(SUM(psum) AS DOUBLE) / 64.0 / COUNT(*) / 10000000.0, 6)
             AS mean_normalized,
           round(CAST(SUM(shift_u) AS DOUBLE) / 64.0 / COUNT(*) / 10000000.0, 6)
             AS mean_abs_shift
    FROM shifted GROUP BY dim ORDER BY dim
    """,
)
def quantile_normalize_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "dim",
        F.floor(F.col("v").cast("double") * 10000000 + F.lit(0.5))
        .cast("long").alias("q"),
    )
    n_vec = emb.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    ranked = global_row_number(
        x, [F.col("dim"), F.col("q"), F.col("vec_id")], out_col="rn"
    )
    # rank_in_dim = rn − dim·N: every dim holds exactly N values, so the
    # per-dim rank is pure arithmetic over the ONE global range exchange
    r = ranked.crossJoin(F.broadcast(n_vec)).select(
        "dim", "q", (F.col("rn") - F.col("dim") * F.col("nv")).alias("rk")
    )
    r = materialize(r, "quantile_normalize_embeddings.r")  # profile AND the shift join read it
    prof = r.groupBy("rk").agg(F.sum("q").cast("long").alias("psum"))
    shifted = r.join(prof, "rk").select(
        "dim", "q", "psum", F.abs(F.col("q") * 64 - F.col("psum")).alias("shift_u")
    )
    return (
        shifted.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum("q").cast("double") / F.count(F.lit(1)) / F.lit(10000000.0), 6
            ).alias("mean_raw"),
            F.round(
                F.sum("psum").cast("double") / F.lit(64.0) / F.count(F.lit(1))
                / F.lit(10000000.0),
                6,
            ).alias("mean_normalized"),
            F.round(
                F.sum("shift_u").cast("double") / F.lit(64.0) / F.count(F.lit(1))
                / F.lit(10000000.0),
                6,
            ).alias("mean_abs_shift"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Round-7 wave 25 — log-rank cohort comparison, Holt-Winters seasonal
# smoothing.

# Log-rank test — "do these two cohorts churn at the same rate?", the
# standard survival-curve comparison completing the KM family (hazard
# table → survival curve → two-sample test).  Cohorts split by the
# engine-portable content hash.  Per event day: observed churn d_A vs
# expected d·n_A/n under the null, variance the hypergeometric term.
# The per-day terms are rationals with arbitrary denominators — no
# rounding scale is tie-free (rule #4) — so, like page_hinkley, the
# calendar-bounded series folds RAW identical doubles inside one
# array, in ascending day order, on both engines; only the final
# statistic is rounded.
@query(
    "logrank_test_users",
    """
    WITH life AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS fd, MAX(CAST(ts AS DATE)) AS ld,
             CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 5000
                  THEN 1 ELSE 0 END AS in_a
      FROM events GROUP BY user_id
    ),
    bounds AS (SELECT MIN(fd) AS d0, MAX(ld) AS d1 FROM life),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM bounds
    ),
    starts AS (
      SELECT fd AS d, COUNT(*) AS ns, CAST(SUM(in_a) AS BIGINT) AS ns_a
      FROM life GROUP BY fd
    ),
    ends AS (
      SELECT ld AS d, COUNT(*) AS ne, CAST(SUM(in_a) AS BIGINT) AS ne_a
      FROM life GROUP BY ld
    ),
    cum AS (
      SELECT s.d,
             SUM(COALESCE(st.ns, 0)) OVER w AS cs,
             SUM(COALESCE(en.ne, 0)) OVER w AS ce,
             SUM(COALESCE(st.ns_a, 0)) OVER w AS cs_a,
             SUM(COALESCE(en.ne_a, 0)) OVER w AS ce_a,
             COALESCE(en.ne, 0) AS dd,
             COALESCE(en.ne_a, 0) AS dd_a
      FROM spine s
      LEFT JOIN starts st ON s.d = st.d
      LEFT JOIN ends en ON s.d = en.d
      WINDOW w AS (ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    terms AS (
      SELECT d,
             CAST(dd AS BIGINT) AS dd, CAST(dd_a AS BIGINT) AS dd_a,
             CAST(cs - (ce - dd) AS BIGINT) AS n,
             CAST(cs_a - (ce_a - dd_a) AS BIGINT) AS n_a
      FROM cum
      WHERE dd > 0 AND cs - (ce - dd) > 1
    ),
    devs AS (
      SELECT d, dd_a,
             CAST(dd AS DOUBLE) * CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE) AS e_a,
             CAST(dd AS DOUBLE) * (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n - dd AS DOUBLE) / CAST(n - 1 AS DOUBLE)) AS v_a
      FROM terms
    ),
    arr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(dd_a) AS BIGINT) AS o_a,
             list(e_a ORDER BY d) AS es,
             list(v_a ORDER BY d) AS vs
      FROM devs
    ),
    folded AS (
      SELECT n_days, o_a,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), es),
                         (p, q) -> p + q) AS e_sum,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), vs),
                         (p, q) -> p + q) AS v_sum
      FROM arr
    )
    -- v_sum=0 (one group empty at risk on every death day) would make
    -- the statistic 0/0 or x/0 (ADVICE r7's km 0/0 class) -> NULL,
    -- "test undefined", on both engines.
    SELECT n_days, o_a AS observed_a,
           round(e_sum, 6) AS expected_a,
           CASE WHEN v_sum > 0 THEN
             round((CAST(o_a AS DOUBLE) - e_sum) * (CAST(o_a AS DOUBLE) - e_sum)
                   / v_sum, 6)
           ELSE NULL END AS chi2_logrank
    FROM folded
    """,
)
def logrank_test_users(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    e = _events(spark, sf_dir)
    life = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"), F.max(F.to_date("ts")).alias("ld")
    ).select(
        "user_id", "fd", "ld",
        F.when(hash_bucket(F.col("user_id")) < 5000, 1).otherwise(0).alias("in_a"),
    )
    life = materialize(life, "logrank_test_users.life")
    bounds = life.agg(F.min("fd").alias("d0"), F.max("ld").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    starts = life.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).alias("ns"), F.sum("in_a").cast("long").alias("ns_a")
    )
    ends = life.groupBy(F.col("ld").alias("d")).agg(
        F.count(F.lit(1)).alias("ne"), F.sum("in_a").cast("long").alias("ne_a")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        spine.join(starts, "d", "left")
        .join(ends, "d", "left")
        .select(
            "d",
            F.sum(F.coalesce("ns", F.lit(0))).over(wcum).alias("cs"),
            F.sum(F.coalesce("ne", F.lit(0))).over(wcum).alias("ce"),
            F.sum(F.coalesce("ns_a", F.lit(0))).over(wcum).alias("cs_a"),
            F.sum(F.coalesce("ne_a", F.lit(0))).over(wcum).alias("ce_a"),
            F.coalesce("ne", F.lit(0)).alias("dd"),
            F.coalesce("ne_a", F.lit(0)).alias("dd_a"),
        )
    )
    n = F.col("cs") - (F.col("ce") - F.col("dd"))
    n_a = F.col("cs_a") - (F.col("ce_a") - F.col("dd_a"))
    terms = cum.filter((F.col("dd") > 0) & (n > 1)).select(
        "d",
        F.col("dd").cast("long").alias("dd"),
        F.col("dd_a").cast("long").alias("dd_a"),
        n.cast("long").alias("n"),
        n_a.cast("long").alias("n_a"),
    )
    ratio = F.col("n_a").cast("double") / F.col("n").cast("double")
    devs = terms.select(
        "d", "dd_a",
        (F.col("dd").cast("double") * ratio).alias("e_a"),
        (
            F.col("dd").cast("double") * ratio * (F.lit(1.0) - ratio)
            * ((F.col("n") - F.col("dd")).cast("double")
               / (F.col("n") - 1).cast("double"))
        ).alias("v_a"),
    )
    arr = devs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dd_a").cast("bigint").alias("o_a"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, e_a))), s -> s.e_a)"
        ).alias("es"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, v_a))), s -> s.v_a)"
        ).alias("vs"),
    )
    folded = arr.select(
        "n_days", "o_a",
        F.expr(
            "aggregate(es, CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        ).alias("e_sum"),
        F.expr(
            "aggregate(vs, CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        ).alias("v_sum"),
    )
    diff = F.col("o_a").cast("double") - F.col("e_sum")
    return folded.select(
        "n_days",
        F.col("o_a").alias("observed_a"),
        F.round(F.col("e_sum"), 6).alias("expected_a"),
        # v_sum=0 -> NULL ("test undefined"), never 0/0 (ADVICE r7).
        F.when(
            F.col("v_sum") > 0, F.round(diff * diff / F.col("v_sum"), 6)
        ).alias("chi2_logrank"),
    )


# Holt-Winters additive triple exponential smoothing — the seasonal
# extension of holt_forecast (level+trend) over the DAILY revenue
# series with weekly seasonality: the state is [level, trend,
# s_next..s_next+6] and each step both updates and ROTATES the
# seasonal window.  Same fold discipline: one calendar-bounded
# per-series array, the identical left fold on both engines (state as
# a 9-double array), every intermediate bit-equal; init is the classic
# first-week average (l0 = mean week 1, b0 = 0, s_i = y_i − l0).
# α=0.5, β=0.3, γ=0.2 as exact binary-fraction-free literals is fine:
# constants parse to identical doubles.
@query(
    "holt_winters_daily",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    ser AS (
      SELECT list(CAST(cents AS DOUBLE) ORDER BY d) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily
    ),
    init AS (
      SELECT ys, n_days,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), ys[1:7]),
                         (p, q) -> p + q) / 7.0 AS l0
      FROM ser WHERE n_days >= 21
    ),
    fit AS (
      SELECT n_days, l0,
             list_reduce(
               list_prepend(
                 [l0, CAST(0 AS DOUBLE),
                  ys[1] - l0, ys[2] - l0, ys[3] - l0, ys[4] - l0,
                  ys[5] - l0, ys[6] - l0, ys[7] - l0],
                 list_transform(ys[8:], y -> [y])),
               (acc, x) -> [
                 0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
                 0.3 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
                        - acc[1]) + 0.7 * acc[2],
                 acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
                 0.2 * (x[1] - (0.5 * (x[1] - acc[3])
                                + 0.5 * (acc[1] + acc[2])))
                   + 0.8 * acc[3]
               ]) AS st
      FROM init
    )
    SELECT n_days,
           round(st[1] / 100.0, 4) AS level,
           round(st[2] / 100.0, 4) AS trend,
           round(st[3] / 100.0, 4) AS season_next,
           round((st[1] + st[2] + st[3]) / 100.0, 4) AS forecast_next
    FROM fit
    """,
)
def holt_winters_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ser = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, cents))), "
            "s -> CAST(s.cents AS DOUBLE))"
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    init = ser.filter(F.col("n_days") >= 21).select(
        "ys", "n_days",
        F.expr(
            "aggregate(slice(ys, 1, 7), CAST(0.0 AS DOUBLE),"
            " (p, q) -> p + q) / 7.0D"
        ).alias("l0"),
    )
    fold = F.expr(
        """
        aggregate(
          transform(slice(ys, 8, size(ys) - 7), y -> array(y)),
          array(l0, CAST(0.0 AS DOUBLE),
                element_at(ys, 1) - l0, element_at(ys, 2) - l0,
                element_at(ys, 3) - l0, element_at(ys, 4) - l0,
                element_at(ys, 5) - l0, element_at(ys, 6) - l0,
                element_at(ys, 7) - l0),
          (acc, x) -> array(
            0.5D * (element_at(x, 1) - element_at(acc, 3))
              + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            0.3D * ((0.5D * (element_at(x, 1) - element_at(acc, 3))
                     + 0.5D * (element_at(acc, 1) + element_at(acc, 2)))
                    - element_at(acc, 1)) + 0.7D * element_at(acc, 2),
            element_at(acc, 4), element_at(acc, 5), element_at(acc, 6),
            element_at(acc, 7), element_at(acc, 8), element_at(acc, 9),
            0.2D * (element_at(x, 1)
                    - (0.5D * (element_at(x, 1) - element_at(acc, 3))
                       + 0.5D * (element_at(acc, 1) + element_at(acc, 2))))
              + 0.8D * element_at(acc, 3)
          )
        )
        """
    )
    return init.select("n_days", fold.alias("st")).select(
        "n_days",
        F.round(F.element_at("st", 1) / F.lit(100.0), 4).alias("level"),
        F.round(F.element_at("st", 2) / F.lit(100.0), 4).alias("trend"),
        F.round(F.element_at("st", 3) / F.lit(100.0), 4).alias("season_next"),
        F.round(
            (
                F.element_at("st", 1)
                + F.element_at("st", 2)
                + F.element_at("st", 3)
            )
            / F.lit(100.0),
            4,
        ).alias("forecast_next"),
    )
