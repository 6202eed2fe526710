"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _dec, _events, _t, _units4, global_row_number, materialize, os, query
from .q02_pipeline_parity import Window, _finish_scratch, _scratch_dir
from .q04_retrieval_text import _copurchase_pairs
from ..operators.text import token_count_ws, tokens



# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-data / unit-mixup
# detector for financial facts: observed first-significant-digit shares
# of l_extendedprice vs the Benford expectation log10(1+1/d), with the
# per-digit chi-square contribution.  The digit comes from the DECIMAL
# string (never log10 of a double: at exact powers of ten the log path
# is one ulp from flipping the digit); ln(1+1/d)/ln(10) is irrational so
# round-6 absorbs libm last-ulp differences (established ln-under-round-6
# rule, NOTES parity rules).
@query(
    "benford_audit_lineitem",
    """
    WITH d AS (
      SELECT regexp_extract(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
                            '[1-9]', 0) AS digit
      FROM lineitem
      WHERE l_extendedprice > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT CAST(digit AS INTEGER) AS digit,
           n,
           round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS observed_p,
           round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) AS benford_p,
           round(
             (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
             * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
             / (CAST(total AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))), 6)
             AS chi2_cell
    FROM c CROSS JOIN t
    ORDER BY digit
    """,
)
def benford_audit_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    digit = F.regexp_extract(
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"), "[1-9]", 0
    ).alias("digit")
    c = li.select(digit).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    nd = F.col("n").cast("double")
    totd = F.col("total").cast("double")
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    expected = totd * benford
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n",
            F.round(nd / totd, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round((nd - expected) * (nd - expected) / expected, 6).alias("chi2_cell"),
        )
        .orderBy("digit")
    )


# Exact higher moments (skewness / excess kurtosis) per group from raw
# power sums — the distribution-shape profiler next to mean/stddev
# (profile_lineitem_numeric) and MAD (mad_outliers).  Every power sum is
# an exact DECIMAL (quantity fits (6,1); q⁴ products stay ≤ precision
# 27+10 after the sum-widening — under the 38 cap, so no silent
# precision-loss rescale, NOTES float-parity rule #5); central moments
# are derived in doubles with an identical expression tree on both
# engines, round-6 at the end.  Two-pass-free: one scan, map-side
# partial aggregation, group-count-sized shuffle.
@query(
    "moments_quantity_lineitem",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(6,1))) AS s1,
             SUM(CAST(l_quantity AS DECIMAL(6,1)) * CAST(l_quantity AS DECIMAL(6,1))) AS s2,
             SUM((CAST(l_quantity AS DECIMAL(6,1)) * CAST(l_quantity AS DECIMAL(6,1)))
                 * CAST(l_quantity AS DECIMAL(6,1))) AS s3,
             SUM((CAST(l_quantity AS DECIMAL(6,1)) * CAST(l_quantity AS DECIMAL(6,1)))
                 * (CAST(l_quantity AS DECIMAL(6,1)) * CAST(l_quantity AS DECIMAL(6,1)))) AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    r AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM s
    ),
    m AS (
      SELECT l_returnflag, n, m1,
             r2 - m1 * m1 AS m2,
             r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
             r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 - 3.0 * m1 * m1 * m1 * m1 AS m4
      FROM r
    )
    SELECT l_returnflag, n,
           round(m1, 6) AS mean_qty,
           round(m2, 6) AS var_qty,
           round(m3 / (sqrt(m2) * m2), 6) AS skewness_qty,
           round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis_qty
    FROM m
    ORDER BY l_returnflag
    """,
)
def moments_quantity_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(6,1)")
    q2 = q * q
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q2).alias("s2"),
        F.sum(q2 * q).alias("s3"),
        F.sum(q2 * q2).alias("s4"),
    )
    nd = F.col("n").cast("double")
    r = s.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("double") / nd).alias("m1"),
        (F.col("s2").cast("double") / nd).alias("r2"),
        (F.col("s3").cast("double") / nd).alias("r3"),
        (F.col("s4").cast("double") / nd).alias("r4"),
    )
    m1 = F.col("m1")
    m = r.select(
        "l_returnflag",
        "n",
        "m1",
        (F.col("r2") - m1 * m1).alias("m2"),
        (F.col("r3") - F.lit(3.0) * m1 * F.col("r2") + F.lit(2.0) * m1 * m1 * m1).alias(
            "m3"
        ),
        (
            F.col("r4")
            - F.lit(4.0) * m1 * F.col("r3")
            + F.lit(6.0) * m1 * m1 * F.col("r2")
            - F.lit(3.0) * m1 * m1 * m1 * m1
        ).alias("m4"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round("m1", 6).alias("mean_qty"),
        F.round("m2", 6).alias("var_qty"),
        F.round(F.col("m3") / (F.sqrt(F.col("m2")) * F.col("m2")), 6).alias(
            "skewness_qty"
        ),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0), 6).alias(
            "excess_kurtosis_qty"
        ),
    ).orderBy("l_returnflag")


# Word-collocation mining — top PMI bigrams over the document corpus
# (the lexical-association layer between bpe_pair_counts, which counts
# symbol pairs, and mutual_information_events, which scores categorical
# cells).  Token arrays are cleaned BEFORE adjacency (empty split
# artifacts removed) so both engines see identical neighbor pairs; PMI's
# ratio is assembled as one left-associated double product/quotient of
# exact integer counts, then a single ln under round-6.  Corpus is
# touched once; everything after the two token aggs is
# vocabulary-sized.  The cutoff orders on the ROUNDED pmi (then w1, w2)
# so the LIMIT boundary is ulp-stable across engines.
@query(
    "collocations_pmi_docs",
    """
    WITH arr AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ws
      FROM documents
    ),
    tok AS (SELECT unnest(ws) AS word FROM arr),
    uni AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word),
    tuni AS (SELECT COUNT(*) AS t FROM tok),
    pairs AS (
      SELECT struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2
      FROM (SELECT unnest(list_zip(ws, ws[2:])) AS p FROM arr)
      WHERE struct_extract(p, 2) IS NOT NULL
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2),
    tbi AS (SELECT COUNT(*) AS tb FROM pairs)
    SELECT b.w1, b.w2, b.cb,
           round(ln(CAST(b.cb AS DOUBLE) * CAST(t.t AS DOUBLE) * CAST(t.t AS DOUBLE)
                    / (CAST(tb.tb AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6)
             AS pmi
    FROM bi b
    JOIN uni u1 ON b.w1 = u1.word
    JOIN uni u2 ON b.w2 = u2.word
    CROSS JOIN tuni t CROSS JOIN tbi tb
    WHERE b.cb >= 5
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 100
    """,
)
def collocations_pmi_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    ).alias("ws")
    arr = d.select(ws)
    tok = arr.select(F.explode("ws").alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tuni = tok.agg(F.count(F.lit(1)).alias("t"))
    pairs = arr.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .filter(F.col("cb") >= 5)
    )
    tbi = pairs.agg(F.count(F.lit(1)).alias("tb"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    ratio = (
        F.col("cb").cast("double") * F.col("t").cast("double") * F.col("t").cast("double")
    ) / (
        F.col("tb").cast("double") * F.col("c1").cast("double") * F.col("c2").cast("double")
    )
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tuni))
        .crossJoin(F.broadcast(tbi))
        .select("w1", "w2", "cb", F.round(F.log(ratio), 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


# Per-nation OLS revenue trend — closed-form slope/intercept of monthly
# revenue against a month index from exact decimal power sums (the
# linear-dependence measure next to Spearman's rho and the EWMA control
# chart).  The monthly y is cast DOWN to scale 4 before the second-level
# sums — price(2fr)·(1−disc)(2fr) carries ≤4 fractional digits, so the
# cast is EXACT while keeping x·y under precision 38 (rule-#5 headroom);
# slope and intercept share one denominator, assembled identically on
# both engines, round-6 on doubles at the end.
@query(
    "ols_trend_nation_monthly",
    """
    WITH m AS (
      SELECT n_name AS nation,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(24,4)) AS y
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nation, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(10,0))) AS sx,
             SUM(y) AS sy,
             SUM(CAST(x AS DECIMAL(10,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0))) AS sxx
      FROM m GROUP BY nation
    )
    SELECT nation, n AS n_months,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sxx AS DOUBLE) * CAST(sy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept
    FROM s ORDER BY nation
    """,
)
def ols_trend_nation_monthly(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    m = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(F.sum(rev).cast("decimal(24,4)").alias("y"))
    )
    xd = F.col("x").cast("decimal(10,0)")
    s = m.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    den = nd * sxxd - sxd * sxd
    return s.select(
        "nation",
        F.col("n").alias("n_months"),
        F.round((nd * sxyd - sxd * syd) / den, 6).alias("slope"),
        F.round((sxxd * syd - sxd * sxyd) / den, 6).alias("intercept"),
    ).orderBy("nation")


# Simpson's-paradox detector — per-stratum OLS slope of order value on
# time vs the POOLED slope, flagging strata whose rounded trend sign
# disagrees with the aggregate trend (the aggregation-bias audit that
# belongs next to share_of_parent and the drift monitors; a pooled
# "revenue is growing" can hide every priority class shrinking).  Same
# exact-decimal power-sum discipline as ols_trend; the flip flag
# compares signs of the ROUND-6 slopes so an ulp never flips a boolean.
@query(
    "simpson_paradox_orders",
    """
    WITH pts AS (
      SELECT o_orderpriority AS stratum,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    s AS (
      SELECT stratum, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(10,0))) AS sx,
             SUM(y) AS sy,
             SUM(CAST(x AS DECIMAL(10,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0))) AS sxx
      FROM pts GROUP BY stratum
    ),
    p AS (
      SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(10,0))) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS DECIMAL(10,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0))) AS sxx
      FROM pts
    ),
    sl AS (
      SELECT stratum, s.n,
             round((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                    - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                   / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                      - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)), 6) AS slope_stratum,
             round((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                    - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                   / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                      - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE)), 6) AS slope_pooled
      FROM s CROSS JOIN p
    )
    SELECT stratum, n AS n_orders, slope_stratum, slope_pooled,
           (slope_stratum > 0) <> (slope_pooled > 0) AS sign_flipped
    FROM sl ORDER BY stratum
    """,
)
def simpson_paradox_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("stratum"),
        (
            (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        )
        .cast("int")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    xd = F.col("x").cast("decimal(10,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    ]
    s = pts.groupBy("stratum").agg(*aggs)

    def slope(prefix=""):
        nd = F.col(f"{prefix}n").cast("double")
        sx = F.col(f"{prefix}sx").cast("double")
        sy = F.col(f"{prefix}sy").cast("double")
        sxy = F.col(f"{prefix}sxy").cast("double")
        sxx = F.col(f"{prefix}sxx").cast("double")
        return F.round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6)

    p = pts.agg(*aggs).select(
        F.col("n").alias("pn"),
        F.col("sx").alias("psx"),
        F.col("sy").alias("psy"),
        F.col("sxy").alias("psxy"),
        F.col("sxx").alias("psxx"),
    )
    sl = s.crossJoin(F.broadcast(p)).select(
        "stratum",
        F.col("n").alias("n_orders"),
        slope().alias("slope_stratum"),
        slope("p").alias("slope_pooled"),
    )
    return sl.select(
        "stratum",
        "n_orders",
        "slope_stratum",
        "slope_pooled",
        ((F.col("slope_stratum") > 0) != (F.col("slope_pooled") > 0)).alias(
            "sign_flipped"
        ),
    ).orderBy("stratum")


# ORC round-trip — the columnar format the engine supports beyond
# parquet/CSV/JSON (S9/S11 source-sink family): write a lineitem
# projection as ORC, read it back with a pushed-down predicate, and
# aggregate.  The oracle aggregates the same rows from the original
# parquet — value-hash equality proves the ORC sink/source preserves
# doubles, varchars, and timestamps bit-for-bit.  Scratch hygiene:
# per-invocation mkdtemp + eager checkpoint + cleanup (_scratch_dir /
# _finish_scratch), same as the warehouse disk queries.
@query(
    "orc_roundtrip_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue,
           CAST(MIN(l_shipdate) AS VARCHAR) AS min_shipdate,
           CAST(MAX(l_shipdate) AS VARCHAR) AS max_shipdate
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def orc_roundtrip_lineitem(spark, sf_dir):
    root = _scratch_dir("orc_rt", sf_dir)
    path = os.path.join(root, "lineitem_orc")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") >= 25)
    agg = (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue"),
            F.min("l_shipdate").cast("string").alias("min_shipdate"),
            F.max("l_shipdate").cast("string").alias("max_shipdate"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return _finish_scratch(agg, root)


# RFM segmentation — the classic customer-value warehouse mart:
# recency / frequency / monetary quintile scores per customer, each
# quintile assigned by the two-phase global rank (deterministic ntile —
# customers at the same last-order date / order count break ties on
# custkey, so both engines agree on every boundary row).  Score
# arithmetic is INTEGER floor division ((rank−1)·5 div n): a double
# division here would flip a score wherever (rank−1)·5 is an exact
# multiple of n and the quotient lands one ulp under the integer.
@query(
    "rfm_segments_customers",
    """
    WITH m AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    x AS (SELECT MAX(last_order) AS maxd, COUNT(*) AS n FROM m),
    r AS (
      SELECT m.custkey,
             date_diff('day', m.last_order, x.maxd) AS recency_days,
             m.freq, m.monetary, x.n,
             row_number() OVER (ORDER BY m.last_order DESC, m.custkey) AS rr,
             row_number() OVER (ORDER BY m.freq DESC, m.custkey) AS fr,
             row_number() OVER (ORDER BY m.monetary DESC, m.custkey) AS mr
      FROM m CROSS JOIN x
    )
    SELECT custkey, recency_days, freq AS frequency,
           CAST(ROUND(monetary, 2) AS DOUBLE) AS monetary,
           CAST(5 - ((rr - 1) * 5) // n AS INTEGER) AS r_score,
           CAST(5 - ((fr - 1) * 5) // n AS INTEGER) AS f_score,
           CAST(5 - ((mr - 1) * 5) // n AS INTEGER) AS m_score,
           CONCAT(CAST(5 - ((rr - 1) * 5) // n AS VARCHAR),
                  CAST(5 - ((fr - 1) * 5) // n AS VARCHAR),
                  CAST(5 - ((mr - 1) * 5) // n AS VARCHAR)) AS rfm_segment
    FROM r ORDER BY custkey
    """,
)
def rfm_segments_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    x = m.agg(F.max("last_order").alias("maxd"), F.count(F.lit(1)).alias("n"))
    rr = global_row_number(
        m, [F.col("last_order").desc(), F.col("custkey").asc()], out_col="rr"
    ).select("custkey", "rr")
    fr = global_row_number(
        m, [F.col("freq").desc(), F.col("custkey").asc()], out_col="fr"
    ).select("custkey", "fr")
    mr = global_row_number(
        m, [F.col("monetary").desc(), F.col("custkey").asc()], out_col="mr"
    ).select("custkey", "mr")
    r = (
        m.join(rr, "custkey")
        .join(fr, "custkey")
        .join(mr, "custkey")
        .crossJoin(F.broadcast(x))
    )

    def score(rank_col: str):
        return F.expr(f"CAST(5 - (CAST(({rank_col} - 1) * 5 AS BIGINT) div n) AS INT)")

    return r.select(
        "custkey",
        F.datediff(F.col("maxd"), F.col("last_order")).alias("recency_days"),
        F.col("freq").alias("frequency"),
        F.round("monetary", 2).cast("double").alias("monetary"),
        score("rr").alias("r_score"),
        score("fr").alias("f_score"),
        score("mr").alias("m_score"),
        F.concat(
            score("rr").cast("string"),
            score("fr").cast("string"),
            score("mr").cast("string"),
        ).alias("rfm_segment"),
    ).orderBy("custkey")


# Seasonal-naïve forecast backtest — forecast(month) = actual(month−12),
# scored with the absolute percentage error per month (the baseline
# every fancier forecaster must beat; companion to yoy_growth and the
# EWMA chart).  Monthly actuals are exact decimals; the division happens
# once, in doubles, identical shape both engines, round-6.
@query(
    "seasonal_naive_mape_monthly",
    """
    WITH m AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(24,2)) AS y
      FROM orders GROUP BY 1
    )
    SELECT a.x AS month_idx,
           CAST(a.y AS DOUBLE) AS actual,
           CAST(f.y AS DOUBLE) AS forecast,
           round(abs(CAST(a.y AS DOUBLE) - CAST(f.y AS DOUBLE)) / CAST(a.y AS DOUBLE), 6)
             AS ape
    FROM m a JOIN m f ON a.x = f.x + 12
    ORDER BY month_idx
    """,
)
def seasonal_naive_mape_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    m = o.groupBy(x.alias("x")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(24,2)")
        .alias("y")
    )
    a = m.select(F.col("x").alias("month_idx"), F.col("y").alias("ya"))
    f_ = m.select((F.col("x") + 12).alias("month_idx"), F.col("y").alias("yf"))
    actual = F.col("ya").cast("double")
    forecast = F.col("yf").cast("double")
    return (
        a.join(f_, "month_idx")
        .select(
            "month_idx",
            actual.alias("actual"),
            forecast.alias("forecast"),
            F.round(F.abs(actual - forecast) / actual, 6).alias("ape"),
        )
        .orderBy("month_idx")
    )


# Sequential A/B test (SPRT) — Wald's log-likelihood-ratio random walk
# per arm over the daily conversion stream, with the ln(19) decision
# boundaries (α = β = 0.05): the early-stopping companion to the fixed-
# horizon ab_test_lift.  The cumulative walk runs over the DAY-level
# aggregate (calendar-sized, the documented small-table window
# exemption); p0 comes from the pooled rate so both engines derive the
# identical double, and every comparison happens on ROUND-6 values so a
# boundary ulp never flips a decision.
@query(
    "sprt_ab_events",
    """
    WITH t AS (
      SELECT CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 < 5000
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(ts AS DATE) AS d,
             CAST(event_type = 'purchase' AS INTEGER) AS s
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    daily AS (
      SELECT arm, d, COUNT(*) AS n, SUM(s) AS sct FROM t GROUP BY arm, d
    ),
    cum AS (
      SELECT arm, d,
             CAST(SUM(n) OVER (PARTITION BY arm ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
             CAST(SUM(sct) OVER (PARTITION BY arm ORDER BY d
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_cum
      FROM daily
    ),
    pooled AS (
      SELECT CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p0 FROM t
    ),
    llr AS (
      SELECT arm, CAST(d AS VARCHAR) AS day, n_cum, s_cum,
             round(CAST(s_cum AS DOUBLE) * ln((p0 * 1.2) / p0)
                   + CAST(n_cum - s_cum AS DOUBLE) * ln((1.0 - p0 * 1.2) / (1.0 - p0)), 6)
               AS llr
      FROM cum CROSS JOIN pooled
    )
    SELECT arm, day, n_cum, s_cum, llr,
           CASE WHEN llr >= round(ln(19.0), 6) THEN 'reject_h0'
                WHEN llr <= -round(ln(19.0), 6) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr ORDER BY arm, day
    """,
)
def sprt_ab_events(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    e = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    t = e.select(
        F.when(hash_bucket(F.col("user_id")) < 5000, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.col("ts").cast("date").alias("d"),
        (F.col("event_type") == "purchase").cast("int").alias("s"),
    )
    daily = t.groupBy("arm", "d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("s").alias("sct")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "arm", "d", F.sum("n").over(w).alias("n_cum"), F.sum("sct").over(w).alias("s_cum")
    )
    pooled = t.agg(
        (F.sum("s").cast("double") / F.count(F.lit(1)).cast("double")).alias("p0")
    )
    p0 = F.col("p0")
    llr = F.round(
        F.col("s_cum").cast("double") * F.log((p0 * F.lit(1.2)) / p0)
        + (F.col("n_cum") - F.col("s_cum")).cast("double")
        * F.log((F.lit(1.0) - p0 * F.lit(1.2)) / (F.lit(1.0) - p0)),
        6,
    )
    bound = F.round(F.log(F.lit(19.0)), 6)
    out = cum.crossJoin(F.broadcast(pooled)).select(
        "arm",
        F.col("d").cast("string").alias("day"),
        "n_cum",
        "s_cum",
        llr.alias("llr"),
    )
    return out.select(
        "arm",
        "day",
        "n_cum",
        "s_cum",
        "llr",
        F.when(F.col("llr") >= bound, F.lit("reject_h0"))
        .when(F.col("llr") <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("arm", "day")


# Dynamic partition overwrite — the lakehouse partial-rewrite contract:
# write orders partitioned by order-month, then overwrite ONLY one
# month's partition with restated amounts (partitionOverwriteMode=
# dynamic), read back a window of months and prove the restatement
# landed in exactly that partition (siblings keep their original
# values).  Month arithmetic is the same exact-decimal shape as the
# restatement oracle; the conf is saved/restored so no other query
# inherits dynamic mode.  Scratch hygiene per _scratch_dir.
@query(
    "partitioned_overwrite_orders",
    """
    WITH o AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS ym,
             CASE WHEN CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                            + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) = 48
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(22,3))
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,3))
             END AS amount
      FROM orders
    )
    SELECT ym, COUNT(*) AS n_orders,
           CAST(SUM(amount) AS DOUBLE) AS total
    FROM o WHERE ym BETWEEN 47 AND 49
    GROUP BY ym ORDER BY ym
    """,
)
def partitioned_overwrite_orders(spark, sf_dir):
    root = _scratch_dir("dpo", sf_dir)
    path = os.path.join(root, "orders_by_month")
    ym = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    # amount carries the restatement-capable schema (22,3) from v1 so
    # the restated partition's files agree with their siblings (a wider
    # decimal in one partition would break the unified read schema);
    # (18,2) → (22,3) and product → (22,3) are both EXACT casts.
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_totalprice")
        .cast("decimal(18,2)")
        .cast("decimal(22,3)")
        .alias("amount"),
        ym.alias("ym"),
    )
    # r11: cluster by the partition key before the write (guide §6) —
    # unclustered, the single scan task wrote all 84 ym directories
    # serially (profiled: one 1.94s task = 60% of the query); hashing
    # ym across tasks parallelizes the write AND yields one file per
    # partition instead of (tasks × partitions) small files at scale.
    o.repartition("ym").write.partitionBy("ym").mode("overwrite").parquet(path)
    restated = o.filter(F.col("ym") == 48).withColumn(
        "amount",
        (F.col("amount") * F.lit("1.1").cast("decimal(2,1)")).cast("decimal(22,3)"),
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.partitionBy("ym").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path).filter(F.col("ym").between(47, 49))
    agg = (
        back.groupBy("ym")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("amount").cast("double").alias("total"),
        )
        .orderBy("ym")
    )
    return _finish_scratch(agg, root)


# Debounce — collapse bursts of same-(user, type) events arriving
# within 5 s of the PREVIOUS event into their first row (bot double-
# fires, retry storms; the gap-run twin of sessionization, which uses a
# 30 min gap to SPLIT instead).  Gap arithmetic is exact integer
# microseconds (epoch_us both engines); the lag window is partitioned
# by (user, type) — full key cardinality, no scale ceiling.  Ties on
# (ts, event_id) so replicated timestamps order identically.
@query(
    "debounce_events",
    """
    WITH s AS (
      SELECT event_type,
             epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS pt
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN pt IS NULL OR t - pt > 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(SUM(CASE WHEN pt IS NULL OR t - pt > 5000000 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS keep_ratio
    FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def debounce_events(spark, sf_dir):
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.lag(F.unix_micros("ts")).over(w).alias("pt"),
    )
    kept = F.sum(
        F.when(F.col("pt").isNull() | (F.col("t") - F.col("pt") > 5_000_000), 1)
        .otherwise(0)
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            kept.alias("n_kept"),
            F.round(kept.cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
                "keep_ratio"
            ),
        )
        .orderBy("event_type")
    )


# Horvitz-Thompson / inverse-propensity estimation — recover full-corpus
# totals from the √-temperature stratified sample (balanced_resample's
# keep rates), weighting each sampled row by the inverse of its
# stratum's inclusion probability.  The audit emits estimate vs truth
# per stratum: the relative error is what tells you whether a sampled
# pipeline statistic is trustworthy before you spend a full-corpus
# pass.  Membership is the engine-portable md5 bucket; weights are
# integer-ratio doubles with identical shape.
@query(
    "ipw_estimate_docs",
    """
    WITH c AS (SELECT lang, COUNT(*) AS cnt, SUM(n_chars) AS chars_true
               FROM documents GROUP BY lang),
    m AS (SELECT MIN(cnt) AS mn FROM c),
    r AS (
      SELECT lang, cnt, chars_true,
             CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000) AS INTEGER) AS th
      FROM c CROSS JOIN m
    ),
    s AS (
      SELECT d.lang, COUNT(*) AS n_samp, SUM(d.n_chars) AS chars_samp
      FROM documents d JOIN r USING (lang)
      WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 10000 < th
      GROUP BY d.lang
    )
    SELECT r.lang, r.cnt AS n_true, s.n_samp,
           round(CAST(s.n_samp AS DOUBLE) * 10000.0 / CAST(r.th AS DOUBLE), 2) AS n_est,
           round((CAST(s.n_samp AS DOUBLE) * 10000.0 / CAST(r.th AS DOUBLE)
                  - CAST(r.cnt AS DOUBLE)) / CAST(r.cnt AS DOUBLE), 6) AS n_rel_err,
           round(CAST(s.chars_samp AS DOUBLE) * 10000.0 / CAST(r.th AS DOUBLE), 2) AS chars_est,
           round((CAST(s.chars_samp AS DOUBLE) * 10000.0 / CAST(r.th AS DOUBLE)
                  - CAST(r.chars_true AS DOUBLE)) / CAST(r.chars_true AS DOUBLE), 6)
             AS chars_rel_err
    FROM r JOIN s ON r.lang = s.lang
    ORDER BY r.lang
    """,
)
def ipw_estimate_docs(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("chars_true")
    )
    m = c.agg(F.min("cnt").alias("mn"))
    r = c.crossJoin(F.broadcast(m)).select(
        "lang",
        "cnt",
        "chars_true",
        F.floor(
            F.sqrt(F.col("mn").cast("double") / F.col("cnt").cast("double")) * 10000
        )
        .cast("int")
        .alias("th"),
    )
    s = (
        d.join(F.broadcast(r.select("lang", "th")), "lang")
        .filter(hash_bucket(F.col("doc_id")) < F.col("th"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_samp"), F.sum("n_chars").alias("chars_samp"))
    )
    est_n = F.col("n_samp").cast("double") * F.lit(10000.0) / F.col("th").cast("double")
    est_c = (
        F.col("chars_samp").cast("double") * F.lit(10000.0) / F.col("th").cast("double")
    )
    return (
        r.join(s, "lang")
        .select(
            "lang",
            F.col("cnt").alias("n_true"),
            "n_samp",
            F.round(est_n, 2).alias("n_est"),
            F.round((est_n - F.col("cnt").cast("double")) / F.col("cnt").cast("double"), 6).alias(
                "n_rel_err"
            ),
            F.round(est_c, 2).alias("chars_est"),
            F.round(
                (est_c - F.col("chars_true").cast("double"))
                / F.col("chars_true").cast("double"),
                6,
            ).alias("chars_rel_err"),
        )
        .orderBy("lang")
    )


# Split-conformal forecast intervals — calibrate the 90th-percentile
# absolute residual of the seasonal-naïve forecaster on months 48–89,
# then audit empirical coverage on the held-out months 90+ (the
# distribution-free uncertainty wrapper every production forecaster
# needs; composes seasonal_naive with the exact-order-statistic rank).
# Residuals are EXACT decimals (difference of exact monthly sums), so
# the conformal quantile is an exact order statistic — both engines
# pick the identical row (ties broken by month) — and only the final
# coverage ratio is a rounded double.  Per-nation windows are
# calendar-sized (documented small-table exemption).
@query(
    "conformal_interval_nation_monthly",
    """
    WITH m AS (
      SELECT n_name AS nation,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(24,2)) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    res AS (
      SELECT a.nation, a.x, abs(a.y - f.y) AS ar
      FROM m a JOIN m f ON a.nation = f.nation AND a.x = f.x + 12
    ),
    cal AS (
      SELECT nation, ar,
             row_number() OVER (PARTITION BY nation ORDER BY ar, x) AS rk,
             COUNT(*) OVER (PARTITION BY nation) AS n_cal
      FROM res WHERE x BETWEEN 48 AND 89
    ),
    q AS (
      SELECT nation, n_cal, ar AS q90
      FROM cal
      WHERE rk = CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)
    ),
    test AS (
      SELECT r.nation,
             COUNT(*) AS n_test,
             SUM(CASE WHEN r.ar <= q.q90 THEN 1 ELSE 0 END) AS covered
      FROM res r JOIN q ON r.nation = q.nation
      WHERE r.x >= 90
      GROUP BY r.nation
    )
    SELECT q.nation, q.n_cal, CAST(q.q90 AS DOUBLE) AS q90,
           t.n_test,
           round(CAST(t.covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6) AS coverage
    FROM q JOIN test t ON q.nation = t.nation
    ORDER BY q.nation
    """,
)
def conformal_interval_nation_monthly(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    m = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(24,2)")
            .alias("y")
        )
    )
    a = m.select("nation", "x", F.col("y").alias("ya"))
    f_ = m.select("nation", (F.col("x") + 12).alias("x"), F.col("y").alias("yf"))
    res = a.join(f_, ["nation", "x"]).select(
        "nation", "x", F.abs(F.col("ya") - F.col("yf")).alias("ar")
    )
    cal = res.filter(F.col("x").between(48, 89))
    wr = Window.partitionBy("nation").orderBy("ar", "x")
    wc = Window.partitionBy("nation")
    ranked = cal.select(
        "nation",
        "ar",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_cal"),
    )
    q = ranked.filter(
        F.col("rk") == F.ceil((F.col("n_cal") + 1) * 0.9).cast("bigint")
    ).select("nation", "n_cal", F.col("ar").alias("q90"))
    test = (
        res.filter(F.col("x") >= 90)
        .join(F.broadcast(q), "nation")
        .groupBy("nation", "n_cal", "q90")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("ar") <= F.col("q90"), 1).otherwise(0)).alias("covered"),
        )
    )
    return test.select(
        "nation",
        "n_cal",
        F.col("q90").cast("double").alias("q90"),
        "n_test",
        F.round(
            F.col("covered").cast("double") / F.col("n_test").cast("double"), 6
        ).alias("coverage"),
    ).orderBy("nation")


# Embedding covariance matrix — the pairwise extension of
# embedding_dim_stats (per-dim mean/var → full dim×dim covariance):
# whitening / PCA prep and the correlated-dimension detector.  The
# distributed part is operators/similarity.gram_upper_cells: one
# numpy partial Gram per block inside mapInPandas, cell-level sum —
# shuffle volume O(dim²·partitions), never O(dim²·rows) like a
# posexplode² would be.  ORDER-FREE contract (round-4 verdict task
# #1): components quantize to the fixed grid q(x)=floor(x·1e7+0.5)
# (finer than the float32 inputs' own resolution), all sums run in
# exact integer/decimal arithmetic, and the final cov is ONE
# identically-shaped double expression over exact integers in both
# engines — so the hash is invariant to partition layout, unlike the
# double-summed version r4 caught flipping (1723/2080 cells).
@query(
    "covariance_matrix_embeddings",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
    comp AS (
      SELECT g.i AS i,
             CAST(floor(v[g.i] * 10000000.0 + 0.5) AS BIGINT) AS xq
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    ),
    mean AS (
      SELECT c.i, CAST(SUM(c.xq) AS DOUBLE) / MAX(nn.n) / 10000000.0 AS m
      FROM comp c CROSS JOIN n nn GROUP BY c.i
    ),
    grid AS (
      SELECT d1.i AS i, d2.j AS j,
             SUM(CAST(floor(v[d1.i] * 10000000.0 + 0.5) AS BIGINT)
                 * CAST(floor(v[d2.j] * 10000000.0 + 0.5) AS BIGINT)) AS sxy
      FROM e,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) d1,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) d2
      WHERE d2.j >= d1.i
      GROUP BY 1, 2
    )
    SELECT g.i, g.j,
           round(CAST(g.sxy AS DOUBLE) / nn.n / 100000000000000.0
                 - m1.m * m2.m, 6) + 0.0 AS cov
    FROM grid g
    JOIN mean m1 ON g.i = m1.i
    JOIN mean m2 ON g.j = m2.i
    CROSS JOIN n nn
    ORDER BY g.i, g.j
    """,
)
def covariance_matrix_embeddings(spark, sf_dir):
    from ..operators.similarity import GRAM_SCALE, gram_upper_cells

    scale = float(GRAM_SCALE)
    e = _t(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    comp = e.select(F.posexplode(F.col("embedding")).alias("dim", "xf")).select(
        (F.col("dim") + 1).alias("i"),
        F.floor(F.col("xf").cast("double") * F.lit(scale) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    mean = (
        comp.groupBy("i")
        .agg(F.sum(F.col("xq").cast("decimal(38,0)")).alias("sx"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            (F.col("sx").cast("double") / F.col("n") / F.lit(scale)).alias("m"),
        )
    )
    grid = gram_upper_cells(e)
    m1 = mean.select(F.col("i"), F.col("m").alias("m1"))
    m2 = mean.select(F.col("i").alias("j"), F.col("m").alias("m2"))
    return (
        grid.join(F.broadcast(m1), "i")
        .join(F.broadcast(m2), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.round(
                    F.col("sxy").cast("double") / F.col("n") / F.lit(scale * scale)
                    - F.col("m1") * F.col("m2"),
                    6,
                )
                # Signed-zero canonicalization (round-5 driver red, root
                # cause: DuckDB round() emits one -0.0 cell where Spark
                # emits +0.0; -0.0 == 0.0 numerically so ==-comparators
                # pass while any repr/bit-level value hash splits).
                # IEEE 754: -0.0 + 0.0 = +0.0 — applied on BOTH engines.
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


# Duplicate-payment audit — same customer, amounts within 1% of each
# other, within a 30-day window: the AP-fraud / double-submission
# detector (exact-amount duplicates are already the dedup stack's job;
# the 1% relative band catches resubmissions with fees or FX drift).
# The self-join stays EQUI on custkey — hash-joinable, bucket sizes
# bounded by per-customer order counts — with the amount band, the
# day window, and the orderkey< dedup as residual predicates; never a
# θ-join over time.  The band compares one identically-shaped double
# expression on both engines, so the boundary never splits.
@query(
    "duplicate_payment_audit_orders",
    """
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           CAST(a.o_totalprice AS DOUBLE) AS amount_a,
           CAST(b.o_totalprice AS DOUBLE) AS amount_b,
           CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate)) AS INTEGER)
             AS days_apart
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(a.o_totalprice - b.o_totalprice)
            <= 0.01 * greatest(a.o_totalprice, b.o_totalprice)
      AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 30
    ORDER BY custkey, orderkey_a, orderkey_b
    """,
)
def duplicate_payment_audit_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey_a"),
        F.col("o_totalprice").alias("amount_a"),
        F.col("o_orderdate").alias("date_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey_b"),
        F.col("o_totalprice").alias("amount_b"),
        F.col("o_orderdate").alias("date_b"),
    )
    days = F.abs(F.datediff(F.col("date_a"), F.col("date_b")))
    band = F.abs(F.col("amount_a") - F.col("amount_b")) <= F.lit(0.01) * F.greatest(
        "amount_a", "amount_b"
    )
    return (
        a.join(
            b,
            (a["custkey"] == b["custkey"])
            & (F.col("orderkey_a") < F.col("orderkey_b")),
        )
        .filter(band & (days <= 30))
        .select(
            a["custkey"].alias("custkey"),
            "orderkey_a",
            "orderkey_b",
            F.col("amount_a").cast("double").alias("amount_a"),
            F.col("amount_b").cast("double").alias("amount_b"),
            days.cast("int").alias("days_apart"),
        )
        .orderBy("custkey", "orderkey_a", "orderkey_b")
    )


# Header/detail reconciliation — rebuild each order's total from its
# line items (Σ extprice·(1−disc)·(1+tax), exact decimals with rule-#5
# headroom: (12,2)·(5,4)·(5,4) → precision 24) and band the difference
# against the stored o_totalprice: the invoice-vs-ledger audit that
# catches partial loads and drifting business rules.  Output is
# status-bucketed counts + the worst absolute discrepancy.
@query(
    "totalprice_reconciliation_orders",
    """
    WITH comp AS (
      SELECT l_orderkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(5,4)))
                      * (1 + CAST(l_tax AS DECIMAL(5,4))) AS DECIMAL(24,10))) AS computed
      FROM lineitem GROUP BY l_orderkey
    ),
    d AS (
      SELECT o.o_orderstatus AS status,
             abs(CAST(c.computed AS DECIMAL(28,10))
                 - CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,10))) AS adiff
      FROM orders o JOIN comp c ON o.o_orderkey = c.l_orderkey
    )
    SELECT status,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN adiff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN adiff < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_cent,
           CAST(MAX(adiff) AS DOUBLE) AS max_abs_diff
    FROM d GROUP BY status ORDER BY status
    """,
)
def totalprice_reconciliation_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    line_amt = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(5,4)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(5,4)"))
    ).cast("decimal(24,10)")
    comp = li.groupBy("l_orderkey").agg(F.sum(line_amt).alias("computed"))
    adiff = F.abs(
        F.col("computed").cast("decimal(28,10)")
        - F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(28,10)")
    )
    d = o.join(comp, o["o_orderkey"] == comp["l_orderkey"]).select(
        F.col("o_orderstatus").alias("status"), adiff.alias("adiff")
    )
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("adiff") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(F.when(F.col("adiff") < 0.01, 1).otherwise(0))
            .cast("bigint")
            .alias("n_within_cent"),
            F.max("adiff").cast("double").alias("max_abs_diff"),
        )
        .orderBy("status")
    )


# YoY waterfall — decompose the year-over-year revenue DELTA into
# per-nation contributions (delta share of total change): the
# explains-the-change companion to revenue_share_of_parent, which
# explains a LEVEL.  Current year = months 104–115, prior = 92–103;
# deltas are exact decimal differences, shares a single rounded double
# division against the broadcast total.
@query(
    "yoy_waterfall_nation",
    """
    WITH r AS (
      SELECT n_name AS nation,
             CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS INTEGER) AS x,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    ),
    n AS (
      SELECT nation,
             SUM(CASE WHEN x BETWEEN 92 AND 103 THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS prev,
             SUM(CASE WHEN x BETWEEN 104 AND 115 THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS curr
      FROM r WHERE x BETWEEN 92 AND 115 GROUP BY nation
    ),
    t AS (SELECT SUM(curr - prev) AS total_delta FROM n)
    SELECT nation,
           CAST(ROUND(prev, 2) AS DOUBLE) AS rev_prev,
           CAST(ROUND(curr, 2) AS DOUBLE) AS rev_curr,
           CAST(ROUND(curr - prev, 2) AS DOUBLE) AS delta,
           round(CAST(curr - prev AS DOUBLE) / CAST(total_delta AS DOUBLE), 6)
             AS share_of_change
    FROM n CROSS JOIN t
    ORDER BY nation
    """,
)
def yoy_waterfall_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nt = _t(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("int")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    r = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nt), c["c_nationkey"] == nt["n_nationkey"])
        .select(F.col("n_name").alias("nation"), x.alias("x"), rev.alias("rev"))
        .filter(F.col("x").between(92, 115))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    n = r.groupBy("nation").agg(
        F.sum(F.when(F.col("x").between(92, 103), F.col("rev")).otherwise(zero)).alias(
            "prev"
        ),
        F.sum(F.when(F.col("x").between(104, 115), F.col("rev")).otherwise(zero)).alias(
            "curr"
        ),
    )
    t = n.agg(F.sum(F.col("curr") - F.col("prev")).alias("total_delta"))
    return (
        n.crossJoin(F.broadcast(t))
        .select(
            "nation",
            F.round("prev", 2).cast("double").alias("rev_prev"),
            F.round("curr", 2).cast("double").alias("rev_curr"),
            F.round(F.col("curr") - F.col("prev"), 2).cast("double").alias("delta"),
            F.round(
                (F.col("curr") - F.col("prev")).cast("double")
                / F.col("total_delta").cast("double"),
                6,
            ).alias("share_of_change"),
        )
        .orderBy("nation")
    )
# ---------------------------------------------------------------------------
# Round-4 continuation, wave 8: dimensionality reduction, robust trends,
# surface readability, graph mixing, head-of-distribution selection,
# behavioral n-grams, corpus-divergence mixture diagnostics.


# Johnson-Lindenstrauss projection + distortion audit — the cheap
# dimension-reduction pre-pass (64→16) that narrows every downstream
# ANN / k-NN / dedup scan 4×, with the audit that tells you whether the
# compressed space is still faithful.  The projection is a zero-shuffle
# per-row codegen map (operators/similarity.jl_project, ±1 md5-parity
# plan literals — the LSH plane derivation); the audit is anchor-bounded
# (|Q|·N, broadcast anchors) like embedding_cosine_topk.  Squared
# distances use the dot-identity qq − 2qv + vv so every float op is a
# left-associative dot both engines fold identically; ±1 weights and the
# /16 normalizer are exact in binary, so the distortion ratio is
# bit-stable under round-6.
def _jl_oracle() -> str:
    from ..operators.similarity import _DIMS, _JL_DIMS, _JL_SEED, _plane_weights

    planes = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(str(x) for x in _plane_weights(_JL_SEED + j, _DIMS))
        + "])"
        for j in range(_JL_DIMS)
    )
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, v, [{planes}] AS pv FROM vecs),
    q AS (
      SELECT vec_id AS query_id, v AS qv, pv AS qp FROM p
      WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    d AS (
      SELECT q.query_id, p.vec_id,
             list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, p.v)
               + list_dot_product(p.v, p.v) AS d2o,
             list_dot_product(q.qp, q.qp) - 2 * list_dot_product(q.qp, p.pv)
               + list_dot_product(p.pv, p.pv) AS d2p
      FROM q JOIN p ON q.query_id < p.vec_id
    )
    SELECT query_id, vec_id, round(d2o, 6) AS d2_orig,
           round(d2p / ({_JL_DIMS} * d2o), 6) AS distortion
    FROM d WHERE d2o > 0
    ORDER BY query_id, vec_id
    """


@query("jl_distortion_audit", _jl_oracle())
def jl_distortion_audit(spark, sf_dir):
    from ..operators.similarity import dot_codegen, jl_project

    e = _t(spark, sf_dir, "embeddings")
    # The 16×64-term projection plus the two self-dots are ~6k
    # expression nodes; unmaterialized they sat in BOTH join branches,
    # so Catalyst analyzed/optimized (and codegen compiled) the giant
    # tree twice per run — measured scale-INDEPENDENT: 3.3s at sf0.001
    # vs 3.0s at sf0.1, i.e. driver plan work, not data (r10; guide
    # §3.3 "materialising an intermediate truncates the plan").  One
    # eager checkpoint of the node-dimension table (vec, proj, self-
    # dots — ~20k rows) leaves the pair join a tiny plan over an
    # ExistingRDD.  Self-dots ride the same pass: d2o keeps the exact
    # shape qq − 2·qc + cc with each dot's fold order unchanged, so
    # every double is bit-identical to the oracle's.
    p = jl_project(e).select(
        "vec_id",
        "embedding",
        "proj",
        dot_codegen("embedding", "embedding").alias("__svv"),
        dot_codegen("proj", "proj", dims=16).alias("__spp"),
    )
    p = materialize(p, "jl_distortion_audit.p")
    q = p.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("proj").alias("qp"),
        F.col("__svv").alias("__qvv"),
        F.col("__spp").alias("__qpp"),
    )
    c = p.select(
        "vec_id",
        F.col("embedding").alias("cv"),
        F.col("proj").alias("cp"),
        F.col("__svv").alias("__cvv"),
        F.col("__spp").alias("__cpp"),
    )
    d2o = (
        F.col("__qvv")
        - F.lit(2) * dot_codegen("qv", "cv")
        + F.col("__cvv")
    )
    d2p = (
        F.col("__qpp")
        - F.lit(2) * dot_codegen("qp", "cp", dims=16)
        + F.col("__cpp")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") < F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            d2o.alias("d2o"),
            d2p.alias("d2p"),
        )
        .filter(F.col("d2o") > 0)
        .select(
            "query_id",
            "vec_id",
            F.round("d2o", 6).alias("d2_orig"),
            F.round(F.col("d2p") / (F.lit(16) * F.col("d2o")), 6).alias("distortion"),
        )
        .orderBy("query_id", "vec_id")
    )


# Theil-Sen robust slope — the outlier-immune twin of
# ols_trend_nation_monthly: median of all pairwise slopes of the
# monthly revenue series.  The pair expansion is quadratic ONLY in the
# per-nation month count (calendar-bounded, ≤ ~84 whatever the fact
# size — the cusum argument), partitioned by nation so no global
# window.  Monthly revenue is exact-decimal → round-2 double FIRST, so
# every slope is computed from identical doubles; the median picks the
# two middle ranks explicitly and averages via (MIN+MAX)/2 of the
# filtered rows — deterministic under slope ties because ranks select
# VALUES, not rows.
@query(
    "theil_sen_nation_monthly",
    """
    WITH m AS (
      SELECT n_name AS nation,
             (year(CAST(o_orderdate AS DATE)) - 1992) * 12
               + month(CAST(o_orderdate AS DATE)) - 1 AS mi,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    sl AS (
      SELECT a.nation, (b.rev - a.rev) / (b.mi - a.mi) AS slope
      FROM m a JOIN m b ON a.nation = b.nation AND b.mi > a.mi
    ),
    r AS (
      SELECT nation, slope,
             ROW_NUMBER() OVER (PARTITION BY nation ORDER BY slope) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS n
      FROM sl
    )
    SELECT nation, CAST(MAX(n) AS BIGINT) AS n_pairs,
           round((MIN(slope) + MAX(slope)) / 2, 6) AS ts_slope
    FROM r
    WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
    GROUP BY nation ORDER BY nation
    """,
)
def theil_sen_nation_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    d = F.to_date("o_orderdate")
    m = (
        o.join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n), cu["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            ((F.year(d) - 1992) * 12 + F.month(d) - 1).alias("mi"),
        )
        .agg(
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("rev")
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    sl = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation")) & (F.col("b.mi") > F.col("a.mi")),
    ).select(
        F.col("a.nation").alias("nation"),
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.mi") - F.col("a.mi"))).alias(
            "slope"
        ),
    )
    w = Window.partitionBy("nation").orderBy("slope")
    r = sl.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("nation"))
    )
    lo = F.floor((F.col("n") + 1) / 2).cast("bigint")
    hi = F.floor(F.col("n") / 2 + 1).cast("bigint")
    return (
        r.filter((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("nation")
        .agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            F.round((F.min("slope") + F.max("slope")) / 2, 6).alias("ts_slope"),
        )
        .orderBy("nation")
    )


# Flesch reading-ease per source — the surface-statistics readability
# tier of the quality stack (heuristic → logit → LM-perplexity), the
# standard "too hard / too telegraphic" band filter for pretraining
# mixes.  Pure codegen regexp_count arithmetic (operators/text.
# readability_score): zero shuffle before the source-level agg, no
# Python.  Per-doc scores are round-4 doubles summed as EXACT decimals
# so the per-source mean is independent of partition order.
@query(
    "readability_docs",
    r"""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text, '\S+')) AS w0,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
      FROM documents
    ),
    sc AS (
      SELECT source,
             206.835 - 1.015 * (CAST(GREATEST(w0, 1) AS DOUBLE) / CAST(s AS DOUBLE))
               - 84.6 * (CAST(syl AS DOUBLE) / CAST(GREATEST(w0, 1) AS DOUBLE)) AS score
      FROM d
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND((CAST(SUM(CAST(CAST(ROUND(score, 4) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE) / 10000.0)
                      / COUNT(*), 4) AS DOUBLE) AS avg_flesch
    FROM sc GROUP BY source ORDER BY source
    """,
)
def readability_docs(spark, sf_dir):
    from ..operators.text import readability_score

    d = _t(spark, sf_dir, "documents")
    cols = readability_score()
    # rule #6: round-4 scores carried as exact int64 1e-4 units.
    sc = d.select(
        "source",
        (F.round(cols["score"], 4).cast("decimal(18,4)") * F.lit(10000))
        .cast("long")
        .alias("r4u"),
    )
    return (
        sc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                (F.sum("r4u").cast("double") / F.lit(10000.0)) / F.count(F.lit(1)), 4
            ).cast("double").alias("avg_flesch"),
        )
        .orderBy("source")
    )


# Degree assortativity of the co-purchase graph — one scalar that says
# whether popular parts co-occur with other popular parts (assortative
# basket structure) or anchor long-tail baskets (hub-and-spoke).  All
# five sufficient statistics are exact integer sums folded map-side
# (operators/graph.degree_assortativity); the float work is one 1-row
# closed form.  Edge list comes from the committed co-purchase cache —
# the third consumer (after PageRank and triangles) of one build.
@query(
    "assortativity_copurchase",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    xy AS (
      SELECT da.d AS dx, db.d AS dy
      FROM edges e JOIN deg da ON e.src = da.src JOIN deg db ON e.dst = db.src
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy
      FROM xy
    )
    SELECT n_edges,
           round((CAST(n_edges AS DOUBLE) * sxy - sx * sy)
                 / (sqrt(CAST(n_edges AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n_edges AS DOUBLE) * syy - sy * sy)), 6)
             AS assortativity
    FROM s
    """,
)
def assortativity_copurchase(spark, sf_dir):
    from ..operators.graph import degree_assortativity

    pairs = _copurchase_pairs(spark, sf_dir)
    return degree_assortativity(pairs)


# Pareto head selection — the minimal revenue-ranked prefix of the part
# catalog covering 80% of revenue (assortment-planning / hot-set
# pinning).  Revenue is exact integer CENTS; the running total is the
# repo's two-phase global_cumsum (range exchange + broadcast offsets —
# no single-partition window), and the 80% cut is the all-integer
# predicate 5·cum_before < 4·total, so no float enters the decision.
@query(
    "pareto_head_parts",
    """
    WITH rev AS (
      SELECT l_partkey AS part,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) * 100
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT part, cents,
             SUM(cents) OVER (ORDER BY cents DESC, part
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cents) OVER () AS total
      FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_selected,
           CAST(MAX(total) AS BIGINT) AS total_cents,
           CAST(SUM(cents) AS BIGINT) AS covered_cents,
           round(CAST(SUM(cents) AS DOUBLE) / MAX(total), 6) AS covered_share
    FROM c WHERE 5 * (cum - cents) < 4 * total
    """,
)
def pareto_head_parts(spark, sf_dir):
    from ..operators.packing import global_cumsum

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        (
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))), 2
            )
            * 100
        )
        .cast("bigint")
        .alias("cents")
    )
    c = global_cumsum(
        rev, [F.col("cents").desc(), F.col("part").asc()], "cents", "cum"
    )
    total = c.agg(F.sum("cents").alias("total"))
    return (
        c.crossJoin(F.broadcast(total))
        .filter(5 * (F.col("cum") - F.col("cents")) < 4 * F.col("total"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts_selected"),
            F.max("total").cast("bigint").alias("total_cents"),
            F.sum("cents").cast("bigint").alias("covered_cents"),
            F.round(
                F.sum("cents").cast("double") / F.max("total"), 6
            ).alias("covered_share"),
        )
    )


# Behavioral trigram mining — the order-3 sequential pattern table over
# per-user event streams (the n-gram generalization of
# markov_transitions_events; what a funnel designer reads before
# declaring a canonical path).  Two LEADs inside a per-user window —
# partition-bounded, no global sort; the count table is
# |event_type|³-bounded however many users flow through.
@query(
    "event_trigrams_users",
    """
    WITH s AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      FROM events
    )
    SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY cnt DESC, t1, t2, t3 LIMIT 20
    """,
)
def event_trigrams_users(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        s.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "t1", "t2", "t3")
        .limit(20)
    )


# Jensen-Shannon divergence between source unigram distributions — the
# symmetric, bounded ([0, ln 2]) corpus-distance that drives mixture
# reweighting and domain-shift detection (which sources are
# near-duplicates of each other, which bring new text).  The corpus is
# scanned ONCE into a (source, token) count table; everything after is
# vocabulary-sized (Zipf-small) × source-pairs (tiny).  Per-token
# contributions follow the psi_drift ln-under-round-6 discipline and
# are summed as exact decimals so the total is partition-order-free.
@query(
    "js_divergence_sources",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
    tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1),
    pr AS (
      SELECT a.source AS s1, b.source AS s2, a.tot AS t1, b.tot AS t2
      FROM tt a JOIN tt b ON a.source < b.source
    ),
    u AS (
      SELECT pr.s1, pr.s2, c.t FROM pr JOIN c ON c.source IN (pr.s1, pr.s2)
      GROUP BY 1, 2, 3
    ),
    j AS (
      SELECT u.s1, u.s2, u.t,
             COALESCE(ca.c, 0) AS c1, COALESCE(cb.c, 0) AS c2
      FROM u
      LEFT JOIN c ca ON ca.source = u.s1 AND ca.t = u.t
      LEFT JOIN c cb ON cb.source = u.s2 AND cb.t = u.t
    ),
    terms AS (
      SELECT j.s1, j.s2,
             CAST(c1 AS DOUBLE) / pr.t1 AS pd,
             CAST(c2 AS DOUBLE) / pr.t2 AS qd,
             c1, c2
      FROM j JOIN pr ON j.s1 = pr.s1 AND j.s2 = pr.s2
    ),
    contrib AS (
      SELECT s1, s2,
             round(0.5 * (CASE WHEN c1 > 0
                               THEN pd * ln(greatest(round(pd / ((pd + qd) / 2), 6), 0.000001))
                               ELSE 0.0 END
                          + CASE WHEN c2 > 0
                                 THEN qd * ln(greatest(round(qd / ((pd + qd) / 2), 6), 0.000001))
                                 ELSE 0.0 END), 6) AS term
      FROM terms
    )
    SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(ROUND(CAST(SUM(CAST(CAST(term AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS DOUBLE) / 1000000.0, 6)
                AS DOUBLE) AS js
    FROM contrib GROUP BY s1, s2 ORDER BY s1, s2
    """,
)
def js_divergence_sources(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    c = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tt = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    a = tt.select(F.col("source").alias("s1"), F.col("tot").alias("t1"))
    b = tt.select(F.col("source").alias("s2"), F.col("tot").alias("t2"))
    pr = F.broadcast(a.join(b, F.col("s1") < F.col("s2")))
    u = (
        pr.join(c, (F.col("source") == F.col("s1")) | (F.col("source") == F.col("s2")))
        .select("s1", "s2", "t")
        .distinct()
    )
    ca = c.select(F.col("source").alias("sa"), F.col("t").alias("ta"), F.col("c").alias("c1"))
    cb = c.select(F.col("source").alias("sb"), F.col("t").alias("tb"), F.col("c").alias("c2"))
    j = (
        u.join(ca, (F.col("sa") == F.col("s1")) & (F.col("ta") == F.col("t")), "left")
        .join(cb, (F.col("sb") == F.col("s2")) & (F.col("tb") == F.col("t")), "left")
        .select(
            "s1", "s2", "t",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
        )
        .join(pr, ["s1", "s2"])
    )
    pd_ = F.col("c1").cast("double") / F.col("t1")
    qd = F.col("c2").cast("double") / F.col("t2")
    m2 = (pd_ + qd) / 2
    term = F.round(
        0.5
        * (
            # clamp: ratios >4e6× apart round to 0 — Spark ln(0)=NULL
            # (term silently dropped) vs DuckDB ln(0)=-inf (sum
            # poisoned).  The floor 1e-6 is identical in both engines.
            F.when(
                F.col("c1") > 0,
                pd_ * F.log(F.greatest(F.round(pd_ / m2, 6), F.lit(0.000001))),
            ).otherwise(0.0)
            + F.when(
                F.col("c2") > 0,
                qd * F.log(F.greatest(F.round(qd / m2, 6), F.lit(0.000001))),
            ).otherwise(0.0)
        ),
        6,
    )
    return (
        j.select("s1", "s2", term.alias("term"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            # rule #6: round-6 terms summed as exact int64 1e-6 units.
            F.round(
                F.sum(
                    (F.col("term").cast("decimal(18,6)") * F.lit(1000000)).cast(
                        "long"
                    )
                ).cast("double")
                / F.lit(1000000.0),
                6,
            )
            .cast("double")
            .alias("js"),
        )
        .orderBy("s1", "s2")
    )

# ---------------------------------------------------------------------------
# Round-4 continuation, wave 9: resampling inference, tokenizer health,
# bitmap distinct machinery, PII exposure reporting.


# Poisson bootstrap CI — the resampling method that actually works on a
# cluster: instead of drawing N rows with replacement (a global
# shuffle per replicate), every row independently contributes
# Poisson(1) copies to each replicate, so all B=32 replicates fold in
# ONE map-side pass.  Round-4 verdict task #4: the draw costs ONE md5
# per row (was 32 — pure CPU tax).  The 60-bit digest u splits into
# 30-bit halves (hi, lo); replicate b's variate is the multiply-shift
# mix v_b = (a_b·hi + c_b·lo + d_b) mod 2⁶⁰ with per-replicate odd
# constants — every product ≤ 2⁶⁰ and every sum ≤ 3·2⁶⁰ < 2⁶³, so the
# IDENTICAL integer expressions run overflow-free on Spark (wrap
# semantics never reached) and DuckDB (which would raise).  v_b is
# compared against precomputed thresholds floor(CDF·2⁶⁰) — no float
# enters sampling, both engines draw identical weights.  Spark folds
# all 64 partial sums (Σwt_b·q, Σwt_b) in one scan with NO explode —
# the shuffle carries one 64-column row per partition; the 32 means
# unpack driver-side via stack().  Replicate means are exact decimal /
# bigint; the interval picks order statistics 2 and 31 of the 32 means
# (≈93.75% coverage) — rank selection over a replicate-count-sized
# frame, never over data.
_POIS1_T = [424136118829305344, 848272237658610688, 1060340297073263360,
            1131029650211480960, 1148701988496035328, 1152236456152946176]

# per-replicate affine-mix constants (a1, c1, d1, a2, c2, d2 per
# replicate; a* odd, c* even, all < 2^30), fixed offline from seed
# 20250815 — baked as literals so the Spark plan and the oracle SQL
# are built from the same numbers.  Replicate b's variate is
#   v_hi = (a1·hi + c1·lo + d1) mod 2³⁰
#   v_lo = (a2·lo + c2·hi + d2) mod 2³⁰
#   v    = v_hi·2³⁰ + v_lo
# where (hi, lo) are u's 30-bit halves.  Each half-map is an affine
# transform whose matrix [[a1, c1], [c2, a2]] has ODD determinant
# (odd·odd − even·even), i.e. invertible mod 2³⁰ — so (hi, lo) →
# (v_hi, v_lo) is a BIJECTION of [0,2³⁰)² and v is EXACTLY uniform on
# [0, 2⁶⁰) when u is (a naive single (a·hi+c·lo+d) mod 2⁶⁰ never
# wraps for a < 2³⁰ and is measurably non-uniform — caught by the
# marginal-frequency test).  Every product ≤ 2⁶⁰, every sum < 2⁶² —
# overflow-free on Spark and DuckDB alike.
_MIX = [
    (636667001, 385940420, 817015227, 423134527, 955467876, 718194595),
    (455247025, 59709914, 210904200, 649531473, 234716152, 991845981),
    (319206213, 662359602, 415889426, 1027184659, 931816362, 533076708),
    (80399239, 601280742, 859326725, 372790373, 143912452, 182818257),
    (357691117, 21263198, 513095590, 410478891, 361418856, 219117569),
    (235766153, 434374770, 500255927, 807047261, 574165874, 906864873),
    (1019303837, 424770142, 562975904, 941461243, 331324544, 414876833),
    (405836841, 917134232, 647449778, 409417143, 584262578, 115493195),
    (1020435231, 720136446, 438513155, 521259733, 650402098, 1067621850),
    (87307823, 157284634, 524689499, 1043406275, 883299840, 606458167),
    (809138455, 158250172, 528728238, 337707199, 54671992, 326624168),
    (437245285, 554664370, 631938582, 711345299, 686742864, 87606500),
    (842341693, 1039327796, 990858354, 236532997, 203292344, 471481291),
    (224349205, 88036656, 654290477, 315183561, 457045098, 153731198),
    (471516171, 278081280, 77055196, 956940517, 268645098, 657242856),
    (1042318109, 1060985656, 102194806, 85514773, 183675078, 628146567),
    (431686047, 844932434, 806895541, 398395479, 725769472, 686079753),
    (422627895, 984030286, 726274311, 356271603, 948671212, 713016963),
    (717222945, 1000389838, 99846468, 811416127, 1067164566, 358280396),
    (158454597, 423162730, 228185470, 223772677, 635899816, 1024993579),
    (806185305, 11886058, 265875016, 602637021, 26550624, 989112436),
    (447103653, 341905248, 555672937, 696920697, 131054594, 931899490),
    (87498043, 561928122, 747107816, 669109129, 242347406, 707116962),
    (463691057, 821355096, 1025245717, 304679809, 1040528736, 33848845),
    (515608487, 976333144, 363615987, 489079743, 200530508, 1032205505),
    (1072199035, 802971950, 957763725, 206656145, 1057656286, 9823496),
    (588071351, 814513726, 287059961, 396779527, 254117746, 734876414),
    (986408539, 311536282, 295916458, 1049883231, 979096736, 36234170),
    (124169075, 915199628, 340179575, 720744523, 246982732, 665311543),
    (105086821, 264269346, 670630635, 904480317, 1069054428, 389945743),
    (972757235, 827762584, 531568123, 6226439, 267720574, 67395484),
    (528230739, 587138664, 768678527, 459327569, 240184860, 938797299),
]
_MIX_MOD = 1 << 60  # 1152921504606846976
_MIX_HALF = 1 << 30  # 1073741824


def _pois_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_T)
    )
    return f"CASE {cases} ELSE 6 END"


def _mix_sql(b: int) -> str:
    a1, c1, d1, a2, c2, d2 = _MIX[b]
    hi, lo = f"(u // {_MIX_HALF})", f"(u % {_MIX_HALF})"
    v_hi = f"(({a1} * {hi} + {c1} * {lo} + {d1}) % {_MIX_HALF})"
    v_lo = f"(({a2} * {lo} + {c2} * {hi} + {d2}) % {_MIX_HALF})"
    return f"({v_hi} * {_MIX_HALF} + {v_lo})"


@query(
    "bootstrap_ci_lineitem",
    f"""
    WITH rowu AS (
      SELECT CAST(CONCAT('0x', substr(md5(CONCAT(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))), 1, 15)) AS BIGINT) AS u,
             CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT) AS qs
      FROM lineitem
    ),
    w AS (
      SELECT b, {_pois_case_sql("v")} AS wt, qs
      FROM (
        SELECT u, qs, r.b,
               CASE r.b {" ".join(f"WHEN {b} THEN {_mix_sql(b)}" for b in range(32))} END AS v
        FROM rowu CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) r
      )
    ),
    means AS (
      SELECT b, CAST(SUM(wt * qs) AS DOUBLE) / SUM(wt) / 10000.0 AS m
      FROM w GROUP BY b
    ),
    r AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(*) AS pm
      FROM lineitem
    )
    SELECT n_rows, round(pm, 6) AS point_mean,
           round(MIN(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
           round(MIN(CASE WHEN rn = 31 THEN m END), 6) AS ci_hi,
           CAST(32 AS BIGINT) AS n_replicates
    FROM r CROSS JOIN pt GROUP BY n_rows, pm
    """,
)
def bootstrap_ci_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    base = li.select(
        u.alias("u"),
        (_dec("l_quantity") * F.lit(10000)).cast("bigint").alias("qs"),
    ).select(
        F.expr(f"u div {_MIX_HALF}").alias("hi"),
        (F.col("u") % F.lit(_MIX_HALF)).alias("lo"),
        "qs",
    )

    def _wt_sql(b: int) -> str:
        # SQL-TEXT build (r11): the Column-API version of this 32-column
        # projection cost ~3s of DRIVER time per invocation — ~1,300
        # Column nodes each a py4j round trip — while the parser builds
        # the identical tree from one string in <0.3s (measured
        # same-session: build 2.9–3.5s → 0.3–0.5s, aggregates
        # bit-identical; /tmp-experiment recorded in OPTIMIZATION_r11).
        # Catalyst sees the same plan, so execution is unchanged.
        a1, c1, d1, a2, c2, d2 = _MIX[b]
        v = (
            f"((({a1}L * hi + {c1}L * lo + {d1}L) % {_MIX_HALF}L)"
            f" * {_MIX_HALF}L"
            f" + (({a2}L * lo + {c2}L * hi + {d2}L) % {_MIX_HALF}L))"
        )
        cases = " ".join(
            f"WHEN {v} < {t}L THEN {k}L" for k, t in enumerate(_POIS1_T)
        )
        return f"CAST(CASE {cases} ELSE 6L END AS BIGINT)"

    # one scan, 64 bigint partial aggregates — no explode, no 32× row
    # blowup, no per-row decimal math (qs is quantity·10⁴, exact;
    # Σwt·qs ≤ 6·5e5·rows fits bigint past 10¹¹ rows).  Weights are
    # projected once per row so each CASE chain evaluates once, not
    # twice (sum(wt·qs) and sum(wt) share the column).  (The array/
    # higher-order-function form was measured and REJECTED: transform()
    # lambdas evaluate interpreted per element — 4.5s → 20.2s.)
    weighted = base.selectExpr(
        "qs", *[f"{_wt_sql(b)} AS __w_{b}" for b in range(32)]
    )
    aggs = []
    for b in range(32):
        aggs.append(F.expr(f"sum(__w_{b} * qs)").alias(f"__swq_{b}"))
        aggs.append(F.expr(f"sum(__w_{b})").alias(f"__sw_{b}"))
    # the point estimate folds into the SAME single-scan aggregate
    # (r10): count + Σqs ride two extra partial sums, where the
    # previous separate ``li.agg`` branch re-scanned lineitem end to
    # end just for them.
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("__n_rows"))
    aggs.append(F.sum("qs").cast("bigint").alias("__sqs"))
    folded = weighted.agg(*aggs)
    folded = materialize(folded, "bootstrap_ci_lineitem.folded")
    stack_args = ", ".join(
        f"{b}, __swq_{b}, __sw_{b}" for b in range(32)
    )
    means = folded.select(
        F.expr(f"stack(32, {stack_args}) AS (b, swq, sw)")
    ).select(
        "b",
        (F.col("swq").cast("double") / F.col("sw") / F.lit(10000.0)).alias("m"),
    )
    r = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "b"))
    )
    # qs IS l_quantity·10⁴ exact (same _units4 algebra), so the point
    # mean from the shared scan is bit-identical to the old separate
    # aggregate: Σqs double-cast then /10⁴/n in the same expression
    # order.
    pt = folded.select(
        F.col("__n_rows").alias("n_rows"),
        (
            F.col("__sqs").cast("double") / F.lit(10000.0) / F.col("__n_rows")
        ).alias("pm"),
    )
    return (
        r.crossJoin(F.broadcast(pt))
        .groupBy("n_rows", "pm")
        .agg(
            F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))), 6).alias("ci_lo"),
            F.round(F.min(F.when(F.col("rn") == 31, F.col("m"))), 6).alias("ci_hi"),
        )
        .select(
            "n_rows",
            F.round("pm", 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            F.lit(32).cast("bigint").alias("n_replicates"),
        )
    )


# Tokenizer fertility by language — the multilingual-tokenizer health
# table: BPE-ish tokens per whitespace word (fertility) and characters
# per token.  High fertility on a language = the vocabulary is
# under-serving it (its text costs more sequence length per word) —
# the first thing checked when balancing a multilingual mix.  Pure
# codegen counts folded map-side; one language-sized output.
@query(
    "tokenizer_fertility_lang",
    r"""
    WITH d AS (
      SELECT lang,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks,
             len(string_split(lower(text), ' ')) AS words,
             length(text) AS chars
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(SUM(words) AS BIGINT) AS n_words,
           round(CAST(SUM(toks) AS DOUBLE) / SUM(words), 6) AS fertility,
           round(CAST(SUM(chars) AS DOUBLE) / SUM(toks), 6) AS chars_per_token
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_lang(spark, sf_dir):
    from ..operators.text import token_count_bpe

    d = _t(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        token_count_bpe(F.col("text")).alias("toks"),
        token_count_ws(F.col("text")).alias("words"),
        F.length("text").alias("chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.sum("words").cast("bigint").alias("n_words"),
            F.round(F.sum("toks").cast("double") / F.sum("words"), 6).alias(
                "fertility"
            ),
            F.round(F.sum("chars").cast("double") / F.sum("toks"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


# Bitmap-backed COUNT DISTINCT — Spark's bitmap aggregate family
# (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_count) is the mergeable exact-distinct structure for 100 TB:
# per-bucket fixed-size bitmaps fold map-side and re-merge across any
# grouping, unlike a COUNT(DISTINCT) whose shuffle carries every key.
# The audit pins the bitmap path's count to the exact expand-based
# count per event_type; the oracle computes the same distinct count,
# so a bitmap-position bug would surface as a value mismatch, not just
# a failed self-check.
@query(
    "bitmap_distinct_audit",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_bitmap,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
           CAST(1 AS INTEGER) AS agree
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def bitmap_distinct_audit(spark, sf_dir):
    e = _events(spark, sf_dir)
    b = (
        e.groupBy(
            "event_type", F.bitmap_bucket_number("user_id").alias("bk")
        )
        .agg(
            F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
        )
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_distinct_bitmap"))
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_distinct_exact")
    )
    return (
        b.join(exact, "event_type")
        .select(
            "event_type",
            "n_distinct_bitmap",
            "n_distinct_exact",
            (F.col("n_distinct_bitmap") == F.col("n_distinct_exact"))
            .cast("int")
            .alias("agree"),
        )
        .orderBy("event_type")
    )


# PII exposure report — occurrence counts of the scrubber's own
# patterns (operators/text.scrub_text: EMAIL_REGEX / URL_REGEX) per
# source, BEFORE redaction: the report a data-governance reviewer
# reads to decide which sources need the scrub pass at all, and the
# regression gate that the scrubber's patterns keep matching what the
# corpus actually contains.  Zero-shuffle regexp_count folded into one
# source-sized aggregate.
@query(
    "pii_summary_by_source",
    r"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
             AS n_emails,
           CAST(SUM(len(regexp_extract_all(text, 'https?://[^\s]+'))) AS BIGINT)
             AS n_urls,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
                OR len(regexp_extract_all(text, 'https?://[^\s]+')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
    FROM documents GROUP BY source ORDER BY source
    """,
)
def pii_summary_by_source(spark, sf_dir):
    from ..operators.text import EMAIL_REGEX, URL_REGEX

    d = _t(spark, sf_dir, "documents")
    ne = F.regexp_count("text", F.lit(EMAIL_REGEX))
    nu = F.regexp_count("text", F.lit(URL_REGEX))
    per = d.select("source", ne.alias("ne"), nu.alias("nu"))
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ne").cast("bigint").alias("n_emails"),
            F.sum("nu").cast("bigint").alias("n_urls"),
            F.sum(((F.col("ne") > 0) | (F.col("nu") > 0)).cast("int"))
            .cast("bigint")
            .alias("n_docs_with_pii"),
        )
        .orderBy("source")
    )
