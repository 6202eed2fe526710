"""Round-9 wave 37 — dataset-economics and label-noise curation ops:
dedup-aware EFFECTIVE token mass (what a corpus is worth after
duplicate down-weighting — the number token-budget planning should
use, not the raw count) and confident-learning label-noise flags
(Cleanlab-style off-diagonals of the confident joint between the
deployed quality classifier and the rule-battery labels).
"""

from __future__ import annotations

from ._registry import F, _t, query
from ..operators.text import token_count_ws

# lcm(1..12): every clone-group size 1..12 divides it, so the
# down-weight 1/min(size,12) becomes the exact integer 27720/min(s,12)
# and the per-source effective mass accumulates as int64 units — one
# correctly-rounded division at the end (the rule-#6 discipline).  12
# is the established cluster-size cap (neardup_cluster_tightness).
_LCM12 = 27720


# Effective token mass per source after exact-dup down-weighting: each
# document counts tokens/|clone-group| (group size capped at 12 — a
# >12-way clone adds nothing distinct).  This is the dedup-aware
# dataset size that token-budget planning needs: two sources with the
# same raw count but different duplication have very different value.
# Shape: one fingerprint aggregate for group sizes, joined back (hash
# shuffle on the uniform md5 key), one source rollup — exact integers
# end to end, two final divisions.
@query(
    "effective_token_mass_docs",
    """
    WITH fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS t
      FROM documents
    ),
    grp AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS s FROM fp GROUP BY f),
    w AS (
      SELECT fp.source, fp.t, grp.s,
             fp.t * (27720 // least(grp.s, 12)) AS units
      FROM fp JOIN grp USING (f)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           CAST(SUM(t) AS BIGINT) AS raw_tokens,
           round(CAST(SUM(units) AS DOUBLE) / 27720, 6) AS effective_tokens,
           round(CAST(SUM(t) * 27720 AS DOUBLE) / SUM(units), 6)
             AS inflation_ratio
    FROM w GROUP BY source ORDER BY source
    """,
)
def effective_token_mass_docs(spark, sf_dir):
    from ..operators.text import fingerprint

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("f"),
        token_count_ws(F.col("text")).cast("long").alias("t"),
    )
    grp = d.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("s"))
    w = d.join(grp, "f").select(
        "source",
        "t",
        "s",
        (
            F.col("t")
            * F.expr(f"{_LCM12} div least(s, 12)")
        ).alias("units"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("s") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
            F.sum("t").cast("bigint").alias("raw_tokens"),
            F.round(
                F.sum("units").cast("double") / F.lit(float(_LCM12)), 6
            ).alias("effective_tokens"),
            F.round(
                (F.sum("t") * F.lit(_LCM12)).cast("double")
                / F.sum("units").cast("double"),
                6,
            ).alias("inflation_ratio"),
        )
        .orderBy("source")
    )


# Confident-learning label-noise flags (Northcutt et al. 2021) — the
# off-diagonals of the confident joint between the deployed quality
# classifier (quality_logit_score's sigmoid) and the Gopher-style rule
# label: a rule-negative doc whose classifier confidence exceeds the
# POSITIVE class's mean self-confidence is a suspected mislabeled
# negative, and vice versa.  These flags are what a labeling pipeline
# reviews before trusting cheap heuristic labels as training signal.
# Parity discipline: probabilities quantize to exact 1e-6 integer
# units via one shared round expression; class thresholds stay as
# (sum, count) pairs and every comparison CROSS-MULTIPLIES —
# pu*n_pos >= sum_pos — so no division is ever compared (fully
# integer, bit-exact on both engines); the two reported thresholds
# are single correctly-rounded divisions.
@query(
    "confident_noise_docs",
    """
    WITH tok AS (SELECT doc_id, source, text,
                        string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(
        CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
             ELSE list_transform(range(1, len(w)),
                                 i -> array_to_string(w[i:i+1], ' '))
        END) AS s
      FROM tok
    ),
    per_gram AS (SELECT doc_id, s, COUNT(*) AS c FROM grams GROUP BY doc_id, s),
    rep AS (
      SELECT doc_id,
             round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS r
      FROM per_gram GROUP BY doc_id
    ),
    feats AS (
      SELECT doc_id, source,
             CAST(len(w) AS DOUBLE) AS ntok,
             CASE WHEN len(text) > 0 THEN
               (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE))
                 / CAST(len(text) AS DOUBLE)
             ELSE 0.0 END AS punct,
             CASE WHEN len(w) > 0 THEN
               CAST((len(w) - len(list_filter(w, x -> x != 'the')))
                  + (len(w) - len(list_filter(w, x -> x != 'a')))
                  + (len(w) - len(list_filter(w, x -> x != 'and')))
                  + (len(w) - len(list_filter(w, x -> x != 'of')))
                  + (len(w) - len(list_filter(w, x -> x != 'to')))
                  + (len(w) - len(list_filter(w, x -> x != 'in')))
                  + (len(w) - len(list_filter(w, x -> x != 'is')))
                  + (len(w) - len(list_filter(w, x -> x != 'it'))) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE)
             ELSE 0.0 END AS stop
      FROM tok
    ),
    scored AS (
      SELECT f.doc_id, f.source,
             -- round-6 FIRST (the operator's quality_prob is round-6),
             -- then micro-units: round(round(p,6)*1e6) on both engines
             CAST(round(round(1.0 / (1.0 + exp(-(-1.0 + 0.02 * ntok
               - 3.0 * punct + 4.0 * stop - 2.0 * r.r))), 6)
               * 1000000.0) AS BIGINT) AS pu
      FROM feats f JOIN rep r USING (doc_id)
    ),
    t2 AS (
      SELECT doc_id, unnest(w) AS wd FROM tok
    ),
    c2 AS (SELECT doc_id, wd, COUNT(*) AS cnt FROM t2 GROUP BY 1, 2),
    d2 AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS nw,
             CAST(SUM(cnt * length(wd)) AS BIGINT) AS sumlen,
             CAST(MAX(cnt) AS BIGINT) AS mx,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN wd IN ('the','a','of','to','and','in')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nstop
      FROM c2 GROUP BY 1
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN nw >= 25 AND nw <= 100000
                   AND 3 * nw <= sumlen AND sumlen <= 5 * nw
                   AND 8 * mx <= nw AND 5 * nd >= 2 * nw
                   AND nstop >= 2 THEN 1 ELSE 0 END AS y
      FROM d2
    ),
    j AS (
      SELECT s.source, s.pu, l.y FROM scored s JOIN lab l USING (doc_id)
    ),
    th AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN pu ELSE 0 END) AS BIGINT) AS sum_pos,
             CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN y = 0 THEN 1000000 - pu ELSE 0 END) AS BIGINT) AS sum_neg,
             CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM j
    )
    SELECT j.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(j.y) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN j.y = 0 AND th.n_pos > 0
                          AND j.pu * th.n_pos >= th.sum_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS noise_neg,
           CAST(SUM(CASE WHEN j.y = 1 AND th.n_neg > 0
                          AND (1000000 - j.pu) * th.n_neg >= th.sum_neg
                         THEN 1 ELSE 0 END) AS BIGINT) AS noise_pos,
           round(CAST(MAX(th.sum_pos) AS DOUBLE) / MAX(th.n_pos), 6)
             AS t_pos_microunits,
           round(CAST(MAX(th.sum_neg) AS DOUBLE) / MAX(th.n_neg), 6)
             AS t_neg_microunits
    FROM j CROSS JOIN th
    GROUP BY j.source ORDER BY j.source
    """,
)
def confident_noise_docs(spark, sf_dir):
    from ..operators.text import quality_logit_score
    from .q09_quality_cdc import _gopher_per_doc

    d = _t(spark, sf_dir, "documents")
    scored = quality_logit_score(d).select(
        "doc_id",
        F.round(F.col("quality_prob") * 1000000.0).cast("bigint").alias("pu"),
    )
    g = _gopher_per_doc(spark, sf_dir)
    lab = g.select(
        "doc_id",
        "source",
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
    j = scored.join(lab, "doc_id").select("source", "pu", "y")
    th = j.agg(
        F.sum(F.when(F.col("y") == 1, F.col("pu")).otherwise(0))
        .cast("bigint")
        .alias("sum_pos"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("y") == 0, 1000000 - F.col("pu")).otherwise(0))
        .cast("bigint")
        .alias("sum_neg"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    return (
        j.crossJoin(F.broadcast(th))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(
                F.when(
                    (F.col("y") == 0)
                    & (F.col("n_pos") > 0)
                    & (F.col("pu") * F.col("n_pos") >= F.col("sum_pos")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("noise_neg"),
            F.sum(
                F.when(
                    (F.col("y") == 1)
                    & (F.col("n_neg") > 0)
                    & (
                        (F.lit(1000000) - F.col("pu")) * F.col("n_neg")
                        >= F.col("sum_neg")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("noise_pos"),
            F.round(
                F.max("sum_pos").cast("double") / F.max("n_pos").cast("double"),
                6,
            ).alias("t_pos_microunits"),
            F.round(
                F.max("sum_neg").cast("double") / F.max("n_neg").cast("double"),
                6,
            ).alias("t_neg_microunits"),
        )
        .orderBy("source")
    )
