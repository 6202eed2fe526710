"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _t, _units4, materialize, query
from .q01_warehouse import _MINHASH_CORPUS_SQL, _MINHASH_SIG_SQL, _minhash_corpus
from .q02_pipeline_parity import Window
from .q03_dedup_lsh import _neardup_labels_cached
from ..operators.text import tokens



# ---------------------------------------------------------------------------
# Round-7 wave 26 — representation-similarity audit (linear CKA) of
# int8 quantization.

# Linear CKA between the embedding matrix X and its int8 symmetric
# (de)quantization Y — the representation-similarity number
# (Kornblith et al. 2019) that answers "did quantization preserve the
# GEOMETRY, not just the values?": CKA = ||Cxy||²_F /
# (||Cxx||_F·||Cyy||_F) over column-centered cross-covariances.
# Exact discipline: both matrices quantize to the SAME 1e-4 metric
# grid (the metric is defined on the grid, so coarseness is not
# error); the three Gram grids are exact integers from ONE
# mapInPandas block-matmul pass (operators/similarity.cka_grids — the
# gram_upper_cells scale shape: dim²·blocks through the shuffle,
# never dim²·N); centered cells N·G − S_i·S_j are exact decimals; the
# three Frobenius sums fold the identical cell doubles in (i,j) order
# inside one dim²-bounded array on both engines.
@query(
    "cka_quantization_audit",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    comp AS (
      SELECT vec_id, g.i AS i,
             CAST(floor(v[g.i] * 10000.0 + 0.5) AS BIGINT) AS qx,
             CAST(floor((floor(v[g.i] * 127.0 + 0.5) / 127.0) * 10000.0
                        + 0.5) AS BIGINT) AS qy
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    ),
    sums AS (
      SELECT i, CAST(SUM(qx) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(qy) AS DECIMAL(38,0)) AS sy
      FROM comp GROUP BY i
    ),
    grids AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(a.qx * b.qx) AS DECIMAL(38,0)) AS gxx,
             CAST(SUM(a.qx * b.qy) AS DECIMAL(38,0)) AS gxy,
             CAST(SUM(a.qy * b.qy) AS DECIMAL(38,0)) AS gyy
      FROM comp a JOIN comp b USING (vec_id)
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT g.i, g.j,
             CAST(CAST(nn.n AS DECIMAL(10,0)) * g.gxx - si.sx * sj.sx
                  AS DOUBLE) AS cxx,
             CAST(CAST(nn.n AS DECIMAL(10,0)) * g.gxy - si.sx * sj.sy
                  AS DOUBLE) AS cxy,
             CAST(CAST(nn.n AS DECIMAL(10,0)) * g.gyy - si.sy * sj.sy
                  AS DOUBLE) AS cyy
      FROM grids g
      JOIN sums si ON g.i = si.i
      JOIN sums sj ON g.j = sj.i
      CROSS JOIN n nn
    ),
    arrs AS (
      SELECT list(cxx * cxx ORDER BY i, j) AS axx,
             list(cxy * cxy ORDER BY i, j) AS axy,
             list(cyy * cyy ORDER BY i, j) AS ayy
      FROM cells
    ),
    folded AS (
      SELECT
        list_reduce(list_prepend(CAST(0 AS DOUBLE), axx), (p,q) -> p + q)
          AS fxx,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), axy), (p,q) -> p + q)
          AS fxy,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), ayy), (p,q) -> p + q)
          AS fyy
      FROM arrs
    )
    SELECT nn.n AS n_vecs,
           round(f.fxy / (sqrt(f.fxx) * sqrt(f.fyy)), 6) AS cka,
           round(sqrt(f.fyy) / sqrt(f.fxx), 6) AS energy_ratio
    FROM folded f CROSS JOIN n nn
    """,
)
def cka_quantization_audit(spark, sf_dir):
    from ..operators.similarity import cka_grids

    e = _t(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = cka_grids(e, quant_levels=127)
    g = materialize(g, "cka_quantization_audit.g")  # the three grids and both sum vectors read it
    sums = (
        g.filter(F.col("grid") == "sx")
        .select("i", F.col("s").alias("sx"))
        .join(
            g.filter(F.col("grid") == "sy").select("i", F.col("s").alias("sy")),
            "i",
        )
    )
    si = sums.select(F.col("i"), F.col("sx").alias("sx_i"), F.col("sy").alias("sy_i"))
    sj = sums.select(
        F.col("i").alias("j"), F.col("sx").alias("sx_j"), F.col("sy").alias("sy_j")
    )
    nd = F.col("n").cast("decimal(10,0)")
    cells = (
        g.filter(F.col("grid").isin("xx", "xy", "yy"))
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "grid", "i", "j",
            F.when(
                F.col("grid") == "xx",
                (nd * F.col("s") - F.col("sx_i") * F.col("sx_j")).cast("double"),
            )
            .when(
                F.col("grid") == "xy",
                (nd * F.col("s") - F.col("sx_i") * F.col("sy_j")).cast("double"),
            )
            .otherwise(
                (nd * F.col("s") - F.col("sy_i") * F.col("sy_j")).cast("double")
            )
            .alias("c"),
        )
    )
    folded = (
        cells.groupBy("grid")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(i, j, c))),"
                " s -> s.c * s.c), CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
            ).alias("f")
        )
    )
    wide = folded.groupBy().pivot("grid", ["xx", "xy", "yy"]).agg(F.first("f"))
    return (
        wide.crossJoin(F.broadcast(n))
        .select(
            F.col("n").alias("n_vecs"),
            F.round(
                F.col("xy") / (F.sqrt(F.col("xx")) * F.sqrt(F.col("yy"))), 6
            ).alias("cka"),
            F.round(F.sqrt(F.col("yy")) / F.sqrt(F.col("xx")), 6).alias(
                "energy_ratio"
            ),
        )
    )


# Seasonal-residual anomaly detection — the composition that turns
# seasonal_decompose_monthly into a monitor: detrend + deseasonalize,
# then flag months whose remainder exceeds 3·1.4826·MAD (the robust
# z-score every metrics pipeline wants instead of a stddev rule that
# the anomalies themselves inflate).  Remainders are identical doubles
# on both engines (exact-int devs minus one shared division); medians
# come from explicit order-statistic ranks over the calendar-bounded
# series ((MIN+MAX)/2 of the two middles — the theil_sen discipline);
# the flag compares identical doubles, no rounding in the decision.
@query(
    "seasonal_anomaly_monthly",
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
      SELECT x, moy, cents, 24 * cents - trend_x24 AS dev_x24
      FROM tr WHERE n_terms = 13
    ),
    seas AS (
      SELECT moy, CAST(SUM(dev_x24) AS DOUBLE) / COUNT(*) AS seasonal_x24
      FROM full_tr GROUP BY moy
    ),
    rem AS (
      SELECT f.x, f.cents,
             CAST(f.dev_x24 AS DOUBLE) - s.seasonal_x24 AS r
      FROM full_tr f JOIN seas s ON f.moy = s.moy
    ),
    rk AS (
      SELECT x, cents, r,
             row_number() OVER (ORDER BY r, x) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM rem
    ),
    med1 AS (
      SELECT (MIN(CASE WHEN rn = (n + 1) // 2 THEN r END)
              + MAX(CASE WHEN rn = (n + 2) // 2 THEN r END)) / 2.0 AS med
      FROM rk
    ),
    ad AS (
      SELECT k.x, k.cents, k.r, md.med, abs(k.r - md.med) AS adev
      FROM rk k CROSS JOIN med1 md
    ),
    adrk AS (
      SELECT x, cents, r, med, adev,
             row_number() OVER (ORDER BY adev, x) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM ad
    ),
    med2 AS (
      SELECT (MIN(CASE WHEN rn = (n + 1) // 2 THEN adev END)
              + MAX(CASE WHEN rn = (n + 2) // 2 THEN adev END)) / 2.0 AS mad
      FROM adrk
    )
    SELECT a.x AS month_idx, a.cents,
           round(a.r, 6) AS remainder_x24,
           round(a.adev / (1.4826 * m2.mad) / 3.0, 6) AS severity,
           CASE WHEN a.adev > 3.0 * 1.4826 * m2.mad THEN 1 ELSE 0 END
             AS is_anomaly
    FROM adrk a CROSS JOIN med2 m2
    ORDER BY month_idx
    """,
)
def seasonal_anomaly_monthly(spark, sf_dir):
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
    m = materialize(m, "seasonal_anomaly_monthly.m")  # both sides of the moving-average self-join
    a = m.select(F.col("x").alias("xa"), "moy", F.col("cents").alias("ca"))
    b = m.select(F.col("x").alias("xb"), F.col("cents").alias("cb_"))
    tr = (
        a.join(
            F.broadcast(b),
            (F.col("xb") >= F.col("xa") - 6) & (F.col("xb") <= F.col("xa") + 6),
        )
        .groupBy("xa", "moy", "ca")
        .agg(
            F.sum(
                F.when(F.abs(F.col("xb") - F.col("xa")) == 6, F.col("cb_"))
                .otherwise(F.lit(2) * F.col("cb_"))
            ).cast("bigint").alias("trend_x24"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    full_tr = tr.filter(F.col("n_terms") == 13).select(
        F.col("xa").alias("x"), "moy", F.col("ca").alias("cents"),
        (F.lit(24) * F.col("ca") - F.col("trend_x24")).alias("dev_x24"),
    )
    seas = full_tr.groupBy("moy").agg(
        (F.sum("dev_x24").cast("double") / F.count(F.lit(1))).alias("seasonal_x24")
    )
    rem = full_tr.join(F.broadcast(seas), "moy").select(
        "x", "cents",
        (F.col("dev_x24").cast("double") - F.col("seasonal_x24")).alias("r"),
    )
    rem = materialize(rem, "seasonal_anomaly_monthly.rem")  # bounded series (<=85 rows)
    wall = Window.orderBy("r", "x")
    rk = rem.select(
        "x", "cents", "r",
        F.row_number().over(wall).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    med1 = rk.agg(
        (
            (
                F.min(
                    F.when(
                        F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("r")
                    )
                )
                + F.max(
                    F.when(
                        F.col("rn") == F.floor((F.col("n") + 2) / 2), F.col("r")
                    )
                )
            )
            / 2.0
        ).alias("med")
    )
    ad = rk.crossJoin(F.broadcast(med1)).select(
        "x", "cents", "r", "med", F.abs(F.col("r") - F.col("med")).alias("adev")
    )
    wad = Window.orderBy("adev", "x")
    adrk = ad.select(
        "x", "cents", "r", "med", "adev",
        F.row_number().over(wad).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    med2 = adrk.agg(
        (
            (
                F.min(
                    F.when(
                        F.col("rn") == F.floor((F.col("n") + 1) / 2),
                        F.col("adev"),
                    )
                )
                + F.max(
                    F.when(
                        F.col("rn") == F.floor((F.col("n") + 2) / 2),
                        F.col("adev"),
                    )
                )
            )
            / 2.0
        ).alias("mad")
    )
    return (
        adrk.crossJoin(F.broadcast(med2))
        .select(
            F.col("x").alias("month_idx"),
            "cents",
            F.round(F.col("r"), 6).alias("remainder_x24"),
            F.round(
                F.col("adev") / (F.lit(1.4826) * F.col("mad")) / F.lit(3.0), 6
            ).alias("severity"),
            F.when(
                F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
            ).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("month_idx")
    )


# Near-dup cluster TIGHTNESS audit — closes the dedup quality loop:
# the LSH+CC pipeline asserts "these docs are near-duplicates"; this
# measures whether the claim holds, by exact Jaccard over every
# intra-cluster pair of small clusters (size 2..12 — the pair count is
# bounded by the cluster cap, the Σ|c|² discipline).  Every number is
# an exact integer: the tight test is the cross-multiplied threshold
# 5·|∩| >= 3·|∪| (θ=0.6, float-free), and the minimum similarity is
# integer-floored parts-per-million — no rounding anywhere (Jaccard
# ratios have arbitrary denominators, rule #4).  Labels recomputed by
# the oracle's recursive CTE; Spark serves the committed CC labels.
@query(
    "neardup_cluster_tightness",
    f"""
    WITH RECURSIVE {{corpus}},
    dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
    sig AS (SELECT doc_id, {{sig}} AS sig FROM sh),
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
    sizes AS (SELECT cluster, COUNT(*) AS sz FROM labels GROUP BY cluster),
    members AS (
      SELECT l.node, l.cluster, s.sz
      FROM labels l JOIN sizes s USING (cluster)
      WHERE s.sz BETWEEN 2 AND 12
    ),
    pr AS (
      SELECT a.sz, a.node AS da, b.node AS db,
             CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
             CAST(len(sa.s) + len(sb.s)
                  - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS uni
      FROM members a
      JOIN members b ON a.cluster = b.cluster AND a.node < b.node
      JOIN dsh sa ON sa.doc_id = a.node
      JOIN dsh sb ON sb.doc_id = b.node
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN 5 * inter >= 3 * uni THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tight,
           CAST(SUM(inter) AS BIGINT) AS sum_inter,
           CAST(SUM(uni) AS BIGINT) AS sum_union,
           CAST(MIN((1000000 * inter) // uni) AS BIGINT) AS min_jacc_ppm
    FROM pr GROUP BY sz ORDER BY cluster_size
    """.format(corpus=_MINHASH_CORPUS_SQL, sig=_MINHASH_SIG_SQL),
)
def neardup_cluster_tightness(spark, sf_dir):
    from ..operators.text import shingle_rows

    labels = _neardup_labels_cached(spark, sf_dir).select("node", "cluster")
    sizes = labels.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
    members = labels.join(
        sizes.filter(F.col("sz").between(2, 12)), "cluster"
    )
    corpus = _minhash_corpus(spark, sf_dir)
    dsh = shingle_rows(corpus, "doc_id", "text").distinct()
    # set sizes AND both pair sides read it
    dsh = materialize(dsh, "neardup_cluster_tightness.dsh")
    nsz = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("nsh"))
    pairs = (
        members.select("cluster", "sz", F.col("node").alias("da"))
        .join(
            members.select("cluster", F.col("node").alias("db")), "cluster"
        )
        .filter(F.col("da") < F.col("db"))
    )
    inter = (
        pairs.join(dsh.select(F.col("doc_id").alias("da"), "s"), "da")
        .join(dsh.select(F.col("doc_id").alias("db"), "s"), ["db", "s"])
        .groupBy("sz", "da", "db")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    pr = (
        pairs.join(inter, ["sz", "da", "db"], "left")
        .join(nsz.select(F.col("doc_id").alias("da"), F.col("nsh").alias("na")), "da")
        .join(nsz.select(F.col("doc_id").alias("db"), F.col("nsh").alias("nb")), "db")
        .select(
            "sz",
            F.coalesce("inter", F.lit(0)).alias("inter"),
            (F.col("na") + F.col("nb") - F.coalesce("inter", F.lit(0))).alias("uni"),
        )
    )
    return (
        pr.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(5 * F.col("inter") >= 3 * F.col("uni"), 1).otherwise(0)
            ).cast("bigint").alias("n_tight"),
            F.sum("inter").cast("bigint").alias("sum_inter"),
            F.sum("uni").cast("bigint").alias("sum_union"),
            F.min(F.expr("(1000000 * inter) DIV uni")).cast("bigint")
            .alias("min_jacc_ppm"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Round-7 wave 27 — negative-sampling distribution, feature-hashing
# collision audit.

# Word2vec-style negative-sampling table — the unigram^0.75
# distribution (Mikolov et al. 2013) that contrastive text training
# samples its negatives from; the smoothing exponent is THE parameter
# that keeps rare words visible.  Parity: c^0.75 is pow — not
# correctly rounded — so each term exists only under round(...,6) on
# the VALUE (rule #3), summed as int64 1e-6 units; sampling
# probabilities are single divisions of those exact unit sums.
# Top-30 by probability with deterministic ties.
@query(
    "negative_sampling_table_docs",
    """
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    pw AS (
      SELECT w, c,
             CAST(CAST(round(pow(CAST(c AS DOUBLE), 0.75), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pu
      FROM cnt
    ),
    tot AS (SELECT CAST(SUM(pu) AS BIGINT) AS tu FROM pw)
    SELECT w AS word, c AS count, pu AS pow_u,
           round(CAST(pu AS DOUBLE) / CAST(tu AS DOUBLE), 6) AS sample_prob
    FROM pw CROSS JOIN tot
    ORDER BY pu DESC, word LIMIT 30
    """,
)
def negative_sampling_table_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pw = cnt.select(
        "w", "c",
        (
            F.round(F.pow(F.col("c").cast("double"), F.lit(0.75)), 6)
            .cast("decimal(18,6)")
            * F.lit(1000000)
        ).cast("long").alias("pu"),
    )
    pw = materialize(pw, "negative_sampling_table_docs.pw")  # the total AND the top-k cut read it
    tot = pw.agg(F.sum("pu").cast("long").alias("tu"))
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("word"),
            F.col("c").alias("count"),
            F.col("pu").alias("pow_u"),
            F.round(
                F.col("pu").cast("double") / F.col("tu").cast("double"), 6
            ).alias("sample_prob"),
        )
        .orderBy(F.desc("pow_u"), "word")
        .limit(30)
    )


# Feature-hashing (hashing-trick) collision audit — before shipping a
# hashed feature space, measure what the 2^b buckets actually cost:
# how many vocabulary terms collide, the worst bucket load, and how
# much probability mass lands in collided buckets (the mass that
# becomes irrecoverable noise).  All exact integers off one vocab
# aggregate; the bucket hash is the engine-portable md5 slice used by
# every split here.
@query(
    "feature_hashing_audit_docs",
    """
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    hashed AS (
      SELECT w, c,
             CAST(CONCAT('0x', substr(md5(w), 1, 8)) AS BIGINT) % 4096 AS b
      FROM cnt
    ),
    buckets AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c) AS BIGINT) AS mass
      FROM hashed GROUP BY b
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
             CAST(SUM(c) AS BIGINT) AS total_mass
      FROM cnt
    )
    SELECT t.n_vocab,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(SUM(CASE WHEN b.n_terms > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_collided_buckets,
           CAST(SUM(CASE WHEN b.n_terms > 1 THEN b.n_terms ELSE 0 END)
                AS BIGINT) AS n_collided_terms,
           CAST(MAX(b.n_terms) AS BIGINT) AS max_bucket_terms,
           round(CAST(SUM(CASE WHEN b.n_terms > 1 THEN b.mass ELSE 0 END)
                      AS DOUBLE) / CAST(t.total_mass AS DOUBLE), 6)
             AS collided_mass_share
    FROM buckets b CROSS JOIN tot t
    GROUP BY t.n_vocab, t.total_mass
    """,
)
def feature_hashing_audit_docs(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # bucket rollup AND the vocab totals read it
    cnt = materialize(cnt, "feature_hashing_audit_docs.cnt")
    hashed = cnt.select(
        "w", "c",
        (
            F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
            % 4096
        ).alias("b"),
    )
    buckets = hashed.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("mass"),
    )
    tot = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("c").cast("long").alias("total_mass"),
    )
    return (
        buckets.crossJoin(F.broadcast(tot))
        .groupBy("n_vocab", "total_mass")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
            F.sum(F.when(F.col("n_terms") > 1, 1).otherwise(0))
            .cast("bigint").alias("n_collided_buckets"),
            F.sum(F.when(F.col("n_terms") > 1, F.col("n_terms")).otherwise(0))
            .cast("bigint").alias("n_collided_terms"),
            F.max("n_terms").cast("bigint").alias("max_bucket_terms"),
            F.round(
                F.sum(F.when(F.col("n_terms") > 1, F.col("mass")).otherwise(0))
                .cast("double")
                / F.col("total_mass").cast("double"),
                6,
            ).alias("collided_mass_share"),
        )
        .select(
            "n_vocab", "n_buckets_used", "n_collided_buckets",
            "n_collided_terms", "max_bucket_terms", "collided_mass_share",
        )
    )


# ---------------------------------------------------------------------------
# Round-7 wave 28 — incremental JOIN-view maintenance, blocking
# quality audit.

# Incremental maintenance of a JOIN view — the delta algebra
# Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB that keeps a materialized
# join-aggregate fresh without recomputing the join (the join-view
# sibling of incremental_agg_from_cdf's aggregate-only refresh).
# Split: old orders = keys %10≠0 with line numbers ≤3; the delta
# carries BOTH new orders (with all their lines) and LATE lines
# (>3) of old orders — so all three delta terms are exercised, and
# the refresh cost is bounded by the delta, never the base join.
# The Spark side RUNS the incremental plan (V_old + three delta-term
# joins, re-aggregated); the oracle recomputes the full join — their
# equality IS the IVM correctness statement.  Exact decimal sums.
@query(
    "incremental_join_view_orders",
    """
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def incremental_join_view_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", _units4("l_extendedprice").alias("u")
    )
    o_old = o.filter(F.col("o_orderkey") % 10 != 0)
    o_new = o.filter(F.col("o_orderkey") % 10 == 0)
    l_old = li.join(
        o_old.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).filter(F.col("l_linenumber") <= 3).select("l_orderkey", "u")
    l_new = li.join(
        o_old.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).filter(F.col("l_linenumber") > 3).select("l_orderkey", "u").unionByName(
        li.join(
            o_new.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
        ).select("l_orderkey", "u")
    )

    def agg(orders_df, lines_df):
        return (
            orders_df.join(lines_df, orders_df.o_orderkey == lines_df.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("u").cast("long").alias("su"),
            )
        )

    v_old = agg(o_old, l_old)           # the materialized base view
    d1 = agg(o_new, l_old)              # ΔA ⋈ B_old (empty by key split)
    d2 = agg(o_old, l_new)              # A_old ⋈ ΔB (late lines)
    d3 = agg(o_new, l_new)              # ΔA ⋈ ΔB (new orders' lines)
    merged = (
        v_old.unionByName(d1).unionByName(d2).unionByName(d3)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n_items"),
            F.sum("su").cast("long").alias("su"),
        )
    )
    return merged.select(
        F.col("o_orderpriority").alias("priority"),
        "n_items",
        F.round(
            (F.col("su").cast("decimal(28,0)") / F.lit(10000)).cast("decimal(28,2)"),
            2,
        ).cast("double").alias("revenue"),
    ).orderBy("priority")


# Record-linkage BLOCKING quality audit — before any fuzzy matcher
# runs, the blocking scheme decides the cost/recall trade: reduction
# ratio (how many of the N² pairs blocking avoids) and pairs
# completeness (how many TRUE duplicate pairs survive blocking).
# Truth = the corpus's planted near-dups (doc d ↔ d+1000000 for
# d%25=0, the minhash-corpus convention).  Scale discipline: the
# candidate count is Σ C(block,2) computed ARITHMETICALLY from block
# sizes — candidate pairs are never materialized; completeness joins
# only the |truth|-sized pair set.  All exact integers.
@query(
    "blocking_quality_audit_docs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz yy xx'
      FROM documents WHERE doc_id % 25 = 0
    ),
    keyed AS (
      SELECT doc_id,
             array_to_string((string_split(lower(text), ' '))[1:2], ' ')
               AS blk
      FROM corpus
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    blocks AS (
      SELECT blk, CAST(COUNT(*) AS BIGINT) AS sz FROM keyed GROUP BY blk
    ),
    cand AS (
      SELECT CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_cand,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(MAX(sz) AS BIGINT) AS max_block
      FROM blocks
    ),
    truth AS (
      SELECT d.doc_id AS a, d.doc_id + 1000000 AS b
      FROM documents d WHERE d.doc_id % 25 = 0
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN ka.blk = kb.blk THEN 1 ELSE 0 END) AS BIGINT)
               AS n_found
      FROM truth t
      JOIN keyed ka ON ka.doc_id = t.a
      JOIN keyed kb ON kb.doc_id = t.b
    )
    SELECT n.n AS n_docs, c.n_blocks, c.max_block, c.n_cand,
           h.n_true, h.n_found,
           round(1.0 - CAST(c.n_cand AS DOUBLE)
                 / (CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE) / 2.0), 6)
             AS reduction_ratio,
           round(CAST(h.n_found AS DOUBLE) / CAST(h.n_true AS DOUBLE), 6)
             AS pairs_completeness
    FROM n CROSS JOIN cand c CROSS JOIN hits h
    """,
)
def blocking_quality_audit_docs(spark, sf_dir):
    corpus = _minhash_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id",
        F.array_join(
            F.slice(tokens(F.col("text")), 1, 2), " "
        ).alias("blk"),
    )
    # block sizes, truth probes, doc count
    keyed = materialize(keyed, "blocking_quality_audit_docs.keyed")
    n = keyed.agg(F.count(F.lit(1)).cast("long").alias("n"))
    blocks = keyed.groupBy("blk").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    cand = blocks.agg(
        F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long").alias("n_cand"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("sz").cast("long").alias("max_block"),
    )
    d = _t(spark, sf_dir, "documents")
    truth = d.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1000000).alias("b")
    )
    hits = (
        truth.join(keyed.select(F.col("doc_id").alias("a"),
                                F.col("blk").alias("blk_a")), "a")
        .join(keyed.select(F.col("doc_id").alias("b"),
                           F.col("blk").alias("blk_b")), "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.when(F.col("blk_a") == F.col("blk_b"), 1).otherwise(0))
            .cast("long").alias("n_found"),
        )
    )
    return (
        F.broadcast(n)
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(hits))
        .select(
            F.col("n").alias("n_docs"),
            "n_blocks",
            "max_block",
            "n_cand",
            "n_true",
            "n_found",
            F.round(
                F.lit(1.0)
                - F.col("n_cand").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1).cast("double")
                   / F.lit(2.0)),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_found").cast("double") / F.col("n_true").cast("double"), 6
            ).alias("pairs_completeness"),
        )
    )
