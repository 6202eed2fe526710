"""Round-10 wave 39 — clustering, retrieval-feedback and template ops:
fixed-round k-means Lloyd iterations in exact integer units (the
cluster-balanced-sampling substrate), Rocchio pseudo-relevance-feedback
query expansion (the classic PRF step over the tf/idf machinery), and
boilerplate template detection by shared prefix/suffix fingerprints
(the web-template audit line-level dedup pipelines run per source).
"""

from __future__ import annotations

from ._registry import F, _t, materialize, query
from .q03_dedup_lsh import _QUALITY_SQL
from ..operators.text import token_count_ws, tokens

_KM_K = 8
_KM_DIMS = 64
_KM_ROUNDS = 2

_PRF_TERMS = ("spark", "window", "merge")


def _units_sql(col: str) -> str:
    """Embedding → exact 1e-4 integer units (float32→double is exact;
    the double product and half-away round are identical on both
    engines — the quality_units precedent)."""
    return (
        f"list_transform({col}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"
    )


_KM_DIST = (
    "CAST(list_sum(list_transform(range({d}), "
    "i -> (u[i + 1] - cu[i + 1]) * (u[i + 1] - cu[i + 1]))) AS BIGINT)"
).format(d=_KM_DIMS)


def _km_round_sql(r: int) -> str:
    """One Lloyd round: integer-distance assignment against c{r-1},
    then element-wise mean centroids re-quantized to integer units
    (ONE correctly-rounded division per element)."""
    return f"""a{r} AS (
      SELECT vec_id, u, cid, d FROM (
        SELECT e.vec_id, e.u, c.cid, {_KM_DIST} AS d,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_KM_DIST}, c.cid) AS rn
        FROM e CROSS JOIN c{r - 1} c
      ) WHERE rn = 1
    ),
    x{r} AS (
      SELECT cid, unnest(u) AS x, unnest(range(len(u))) AS pos FROM a{r}
    ),
    c{r} AS (
      SELECT cid, list(cv ORDER BY pos) AS cu FROM (
        SELECT cid, pos,
               CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS cv
        FROM x{r} GROUP BY cid, pos
      ) GROUP BY cid
    )"""


# Fixed-round k-means (Lloyd 1982) — the clustering substrate of
# cluster-balanced sampling / SemDeDup-style curation, as a
# DETERMINISTIC oracle-checkable operator: seeds are the k lowest
# vec_ids, every distance is exact int64 arithmetic over 1e-4-unit
# quantized embeddings (ties break to the lower cluster id), and each
# new centroid element is ONE correctly-rounded division re-quantized
# to integer units — so both engines walk bit-identical assignments
# through every round (the kcenter/confident-noise integer
# discipline; rounds are FIXED, convergence is reported by inertia,
# not assumed).  Scale shape: per round, assignment is map-only
# against a k·dim LITERAL/broadcast centroid table (no data-sized
# join), and the recentering is one (k·dim)-row aggregate — the
# per-round scalar collect of a dimension-sized frame, the accepted
# pagerank/kcenter pattern.
@query(
    "kmeans_lloyd_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, {_units_sql("embedding")} AS u FROM embeddings
    ),
    c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid, u AS cu FROM e
      WHERE vec_id < {_KM_K}
    ),
    {_km_round_sql(1)},
    {_km_round_sql(2)}
    SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d) AS BIGINT) AS inertia_units,
           CAST(MIN(vec_id) AS BIGINT) AS min_member
    FROM a{_KM_ROUNDS} GROUP BY cid ORDER BY cid
    """,
)
def kmeans_lloyd_embeddings(spark, sf_dir):
    e = materialize(_t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"
        ).alias("u"),
    ), "kmeans_lloyd_embeddings.e")

    # seeds: the k lowest vec_ids — a bounded scalar collect of a
    # dimension-sized frame (k rows), the kcenter literal-injection
    # pattern; every subsequent round collects the (k·dim)-row
    # recentering aggregate the same way.
    seed_rows = (
        e.filter(F.col("vec_id") < _KM_K).orderBy("vec_id").collect()
    )
    centroids = {int(r["vec_id"]): list(r["u"]) for r in seed_rows}

    assigned = None
    for _ in range(_KM_ROUNDS):
        cand = F.array(
            *[
                F.struct(
                    F.expr(
                        "aggregate(zip_with(u, array({vals}), "
                        "(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)".format(
                            vals=", ".join(f"{v}L" for v in centroids[cid])
                        )
                    ).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid in sorted(centroids)
            ]
        )
        assigned = e.select(
            "vec_id", "u", F.array_min(cand).alias("best")
        ).select(
            "vec_id", "u", F.col("best.cid").alias("cid"), F.col("best.d").alias("d")
        )
        recenter = (
            assigned.select("cid", F.posexplode("u").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 0)
                .cast("long")
                .alias("cv")
            )
            .collect()
        )
        new_c: dict[int, list] = {}
        for r in recenter:
            new_c.setdefault(int(r["cid"]), [0] * _KM_DIMS)[int(r["pos"])] = int(
                r["cv"]
            )
        centroids = new_c
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("d").cast("bigint").alias("inertia_units"),
            F.min("vec_id").cast("bigint").alias("min_member"),
        )
        .orderBy("cluster_id")
    )


# Rocchio pseudo-relevance feedback (Rocchio 1971, the classic PRF
# expansion): retrieve the top-10 docs for a literal term query by
# EXACT integer tf mass, then rank candidate expansion terms by their
# tf mass inside that pseudo-relevant set weighted by corpus idf —
# the query-expansion step of a retrieval pipeline, composed from the
# existing tf/df machinery.  Parity: retrieval scores and rel_tf/df
# are exact integers; the only float is the final idf weight — one
# ln over a ratio of exact integers, rounded to 6 dp on both engines
# before ranking (ln-discipline), with the term string as tiebreak.
# Scale: two corpus-term aggregates (hash shuffles on term — uniform
# after the length filter), a 10-row broadcast semi-join for the
# relevant set, a corpus-sized df join keyed on term.
@query(
    "rocchio_expansion_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      WHERE length(term) >= 3 GROUP BY doc_id, term
    ),
    rel AS (
      SELECT doc_id FROM (
        SELECT doc_id, SUM(tf) AS score,
               row_number() OVER (ORDER BY SUM(tf) DESC, doc_id) AS rk
        FROM tf WHERE term IN {str(tuple(_PRF_TERMS))}
        GROUP BY doc_id
      ) WHERE rk <= 10
    ),
    expansion AS (
      SELECT t.term, CAST(SUM(t.tf) AS BIGINT) AS rel_tf
      FROM tf t JOIN rel USING (doc_id)
      WHERE t.term NOT IN {str(tuple(_PRF_TERMS))}
      GROUP BY t.term
    ),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT term, rel_tf, df, weight, CAST(rk AS INTEGER) AS rk FROM (
      SELECT x.term, x.rel_tf, d.df,
             round(x.rel_tf * ln(n.n_docs / d.df), 6) AS weight,
             row_number() OVER (
               ORDER BY round(x.rel_tf * ln(n.n_docs / d.df), 6) DESC, x.term
             ) AS rk
      FROM expansion x JOIN df d ON x.term = d.term CROSS JOIN n
    ) WHERE rk <= 15 ORDER BY rk
    """,
)
def rocchio_expansion_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") >= 3)
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # three consumers read tf (retrieval, expansion mass, df) — pin
    # ONE execution of the token explode + aggregate instead of three
    # (the dedup.pp discipline; 64× probe measured the re-execution at
    # 3× the whole query's cost)
    tf = materialize(tf, "rocchio_expansion_docs.tf")
    # top-10 via orderBy+limit → TakeOrderedAndProject: a distributed
    # per-partition top-k + driver merge of 10-row heads, NOT a
    # single-partition row_number window (the r10 64× probe measured
    # the window form at 46.7× — the whole candidate set sorted
    # through one task).
    rel = (
        tf.filter(F.col("term").isin(*_PRF_TERMS))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    expansion = (
        tf.join(F.broadcast(rel), "doc_id", "left_semi")
        .filter(~F.col("term").isin(*_PRF_TERMS))
        .groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("rel_tf"))
    )
    df = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        expansion.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "rel_tf",
            "df",
            F.round(
                F.col("rel_tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("weight"),
        )
    )
    # TakeOrdered the 15 winners first; the rank window then runs over
    # a 15-row frame, never the vocabulary
    top = scored.orderBy(F.desc("weight"), F.asc("term")).limit(15)
    return (
        top.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("weight"), F.asc("term"))),
        )
        .select("term", "rel_tf", "df", "weight", F.col("rk").cast("int").alias("rk"))
        .orderBy("rk")
    )


# Boilerplate template detection — docs inside one source that share
# their first-8-token (or last-8-token) fingerprint are template
# instances (headers/footers/nav chrome in a web corpus); per-source
# template mass is what a line-/span-level boilerplate scrubber
# should expect to remove, and a source whose top template covers a
# large doc share is a candidate for source-level rules instead of
# per-doc scrubbing.  Exact integers end to end: fingerprints are
# md5 over the clamped token slices (identical clamping semantics on
# both engines), masses are counts.  Shape: one scan, two
# fingerprint aggregates keyed (source, md5) — uniform — and one
# source rollup each.
@query(
    "boilerplate_templates_docs",
    """
    WITH w AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS t
      FROM documents
    ),
    fp AS (
      SELECT doc_id, source,
             md5(array_to_string(t[1:8], ' ')) AS pre,
             md5(array_to_string(t[greatest(len(t) - 7, 1):len(t)], ' ')) AS suf
      FROM w
    ),
    pg AS (SELECT source, pre, COUNT(*) AS c FROM fp GROUP BY source, pre),
    sg AS (SELECT source, suf, COUNT(*) AS c FROM fp GROUP BY source, suf),
    pa AS (
      SELECT source,
             CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pre_templates,
             CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS pre_template_docs,
             CAST(MAX(c) AS BIGINT) AS top_pre_docs
      FROM pg GROUP BY source
    ),
    sa AS (
      SELECT source,
             CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS suf_templates,
             CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS suf_template_docs,
             CAST(MAX(c) AS BIGINT) AS top_suf_docs
      FROM sg GROUP BY source
    ),
    nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM fp GROUP BY source)
    SELECT nd.source, nd.n_docs,
           pa.pre_templates, pa.pre_template_docs, pa.top_pre_docs,
           sa.suf_templates, sa.suf_template_docs, sa.top_suf_docs
    FROM nd JOIN pa USING (source) JOIN sa USING (source)
    ORDER BY source
    """,
)
def boilerplate_templates_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", "source", tokens(F.col("text")).alias("t")
    )
    fp = w.select(
        "doc_id",
        "source",
        F.md5(F.array_join(F.slice(F.col("t"), 1, 8), " ")).alias("pre"),
        F.md5(
            F.array_join(
                F.expr("slice(t, greatest(size(t) - 7, 1), 8)"), " "
            )
        ).alias("suf"),
    )

    def roll(col, prefix):
        g = fp.groupBy("source", col).agg(F.count(F.lit(1)).alias("c"))
        return g.groupBy("source").agg(
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_templates"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_template_docs"),
            F.max("c").cast("bigint").alias(f"top_{prefix}_docs"),
        )

    nd = fp.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        nd.join(roll("pre", "pre"), "source")
        .join(roll("suf", "suf"), "source")
        .select(
            "source",
            "n_docs",
            "pre_templates",
            "pre_template_docs",
            "top_pre_docs",
            "suf_templates",
            "suf_template_docs",
            "top_suf_docs",
        )
        .orderBy("source")
    )


# CUPED variance reduction (Deng et al. 2013) — the pre-experiment
# covariate adjustment every experimentation platform applies before
# reading an A/B test: per user, pre-period value mass predicts
# post-period mass; theta = cov(pre, post)/var(pre) over all users,
# and the adjusted metric post' = post − theta·(pre − mean(pre))
# shrinks variance by the squared correlation.  Assignment is the
# deterministic user_id parity; periods split the fixed 30-day
# calendar in half.  Parity discipline: per-user masses are exact
# 1e-4-unit int64 sums; every group moment (Sx, Sy, Sxy, Sxx, Syy, n)
# is an exact int64 aggregate; theta and the variances are computed
# from those integers in double ((double)int64 is correctly rounded
# on both engines) with ONE final 6-dp round per output cell — and
# var(post') expands algebraically to var(post) − 2·theta·cov +
# theta²·var(pre), so no per-row float adjustment is ever summed.
# Shape: one events scan → per-user aggregate (hash shuffle on
# user_id) → one variant-sized moment rollup + a broadcast 1-row
# pooled-theta frame.
@query(
    "cuped_variance_reduction_events",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INTEGER) AS variant,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre_u,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post_u
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre_u) AS BIGINT) AS sx,
             CAST(SUM(post_u) AS BIGINT) AS sy,
             CAST(SUM(pre_u * post_u) AS BIGINT) AS sxy,
             CAST(SUM(pre_u * pre_u) AS BIGINT) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT round(
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
             AS th
      FROM pooled
    ),
    grp AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre_u) AS BIGINT) AS sx,
             CAST(SUM(post_u) AS BIGINT) AS sy,
             CAST(SUM(pre_u * post_u) AS BIGINT) AS sxy,
             CAST(SUM(pre_u * pre_u) AS BIGINT) AS sxx,
             CAST(SUM(post_u * post_u) AS BIGINT) AS syy
      FROM per_user GROUP BY variant
    )
    SELECT variant, n AS n_users,
           round(CAST(sy AS DOUBLE) / n / 10000, 6) AS mean_post,
           round((CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) / 1e8, 6) AS var_post,
           th AS theta,
           round(((CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                  - 2 * th * (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                  + th * th * (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))) / 1e8, 6)
             AS var_adjusted
    FROM grp CROSS JOIN theta
    ORDER BY variant
    """,
)
def cuped_variance_reduction_events(spark, sf_dir):
    from ._registry import _events

    e = _events(spark, sf_dir)
    unit = (F.col("value").cast("decimal(18,4)") * F.lit(10000)).cast("long")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, unit).otherwise(F.lit(0)))
        .cast("long")
        .alias("pre_u"),
        F.sum(F.when(F.col("ts") >= cut, unit).otherwise(F.lit(0)))
        .cast("long")
        .alias("post_u"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("variant"), "pre_u", "post_u"
    )

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pre_u").cast("long").alias("sx"),
            F.sum("post_u").cast("long").alias("sy"),
            F.sum(F.col("pre_u") * F.col("post_u")).cast("long").alias("sxy"),
            F.sum(F.col("pre_u") * F.col("pre_u")).cast("long").alias("sxx"),
            F.sum(F.col("post_u") * F.col("post_u")).cast("long").alias("syy"),
        )

    pooled = moments(per_user, []).select(
        F.round(
            (F.col("n").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sy"))
            / (F.col("n").cast("double") * F.col("sxx")
               - F.col("sx").cast("double") * F.col("sx")),
            6,
        ).alias("th")
    )
    grp = moments(per_user, ["variant"])
    dn = F.col("n").cast("double")
    var_post = F.col("syy").cast("double") / dn - (
        F.col("sy").cast("double") / dn
    ) * (F.col("sy").cast("double") / dn)
    cov = F.col("sxy").cast("double") / dn - (
        F.col("sx").cast("double") / dn
    ) * (F.col("sy").cast("double") / dn)
    var_pre = F.col("sxx").cast("double") / dn - (
        F.col("sx").cast("double") / dn
    ) * (F.col("sx").cast("double") / dn)
    return (
        grp.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            F.col("n").alias("n_users"),
            F.round(F.col("sy").cast("double") / dn / F.lit(10000), 6).alias(
                "mean_post"
            ),
            F.round(var_post / F.lit(1e8), 6).alias("var_post"),
            F.col("th").alias("theta"),
            F.round(
                (var_post - F.lit(2) * F.col("th") * cov
                 + F.col("th") * F.col("th") * var_pre) / F.lit(1e8),
                6,
            ).alias("var_adjusted"),
        )
        .orderBy("variant")
    )


# Black-Box Shift Estimation (Lipton et al. 2018) — label-prior shift
# between a reference source and every other source, estimated from
# classifier CONFUSIONS alone (no target labels needed at deploy
# time; the rule labels here play the held-out-truth role only on the
# reference source).  With the binary quality task, w = C⁻¹ μ has the
# closed 2×2 form, and every entry is a ratio of exact int64 count
# products: w0 = N0·(n11·m0 − n01·m1) / (Ms·det),
# w1 = N0·(n00·m1 − n10·m0) / (Ms·det), det = n00·n11 − n01·n10 —
# ONE correctly-rounded double division per output cell (rule-#6
# discipline).  A source whose w1 deviates from 1 has a different
# positive-label prior than the reference — the drift check a
# deployed quality filter needs per ingest source.  Shape: one corpus
# scan → per-source confusion counts (20-row aggregate) → broadcast
# 1-row reference frame; nothing data-sized joins.
@query(
    "label_shift_bbse_docs",
    f"""
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN len(string_split(lower(text), ' '))
                  BETWEEN 40 AND 250 THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(round(({_QUALITY_SQL}) * 1000000, 0) AS BIGINT)
                  >= 500000 THEN 1 ELSE 0 END AS pred
      FROM documents
    ),
    ref AS (
      SELECT CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM s WHERE source = 'src0'
    ),
    tgt AS (
      SELECT source,
             CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
             CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
             CAST(COUNT(*) AS BIGINT) AS ms
      FROM s GROUP BY source
    )
    SELECT t.source, t.ms AS n_docs,
           round(CAST(t.m1 AS DOUBLE) / t.ms, 6) AS pred_pos_rate,
           round(CAST(r.n0 AS DOUBLE) * (r.n11 * t.m0 - r.n01 * t.m1)
                 / (CAST(t.ms AS DOUBLE) * (r.n00 * r.n11 - r.n01 * r.n10)), 6) AS w0,
           round(CAST(r.n0 AS DOUBLE) * (r.n00 * t.m1 - r.n10 * t.m0)
                 / (CAST(t.ms AS DOUBLE) * (r.n00 * r.n11 - r.n01 * r.n10)), 6) AS w1
    FROM tgt t CROSS JOIN ref r
    ORDER BY t.source
    """,
)
def label_shift_bbse_docs(spark, sf_dir):
    from ..operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "source",
        F.when(token_count_ws(F.col("text")).between(40, 250), 1)
        .otherwise(0)
        .alias("y"),
        F.when(
            F.round(quality_score(F.col("text")) * F.lit(1000000), 0).cast("long")
            >= 500000,
            1,
        )
        .otherwise(0)
        .alias("pred"),
    )
    ref = s.filter(F.col("source") == "src0").agg(
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    tgt = s.groupBy("source").agg(
        F.sum(F.when(F.col("pred") == 0, 1).otherwise(0)).cast("long").alias("m0"),
        F.sum(F.when(F.col("pred") == 1, 1).otherwise(0)).cast("long").alias("m1"),
        F.count(F.lit(1)).cast("long").alias("ms"),
    )
    det = F.col("n00") * F.col("n11") - F.col("n01") * F.col("n10")
    return (
        tgt.crossJoin(F.broadcast(ref))
        .select(
            "source",
            F.col("ms").alias("n_docs"),
            F.round(F.col("m1").cast("double") / F.col("ms"), 6).alias(
                "pred_pos_rate"
            ),
            F.round(
                F.col("n0").cast("double")
                * (F.col("n11") * F.col("m0") - F.col("n01") * F.col("m1"))
                / (F.col("ms").cast("double") * det),
                6,
            ).alias("w0"),
            F.round(
                F.col("n0").cast("double")
                * (F.col("n00") * F.col("m1") - F.col("n10") * F.col("m0"))
                / (F.col("ms").cast("double") * det),
                6,
            ).alias("w1"),
        )
        .orderBy("source")
    )
