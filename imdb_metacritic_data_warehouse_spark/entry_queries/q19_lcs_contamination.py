"""Round-9 wave 35 — sequence/sample-level curation ops (verdict r8
task #5): exact longest-common-substring per document pair (the
deterministic pairwise complement to substring_dup_spans' per-doc
view), eval-set contamination ATTRIBUTED to arrival waves, and
per-domain calibration drift of the quality scorer (isotonic PAV per
source vs the global fit).
"""

from __future__ import annotations

from ._registry import F, _t, materialize, query
from .q03_dedup_lsh import _QUALITY_SQL


# Longest common substring (in words) per document pair, exact for
# spans >= K words: index every word K-gram with its position, join
# equal grams across documents, and measure the longest RUN of
# consecutive positions along one alignment diagonal (pa - pb) — a run
# of L consecutive shared K-gram starts witnesses a common substring
# of exactly L + K - 1 words, the relationship suffix-automaton / LCP
# methods exploit, re-expressed as two hash shuffles (gram, then pair
# diagonal) instead of a single-machine suffix structure.  Ultra-
# frequent grams (> 16 corpus occurrences) are dropped BEFORE the
# pair join — the standard boilerplate guard (CCNet / Lee et al. 2022
# drop hot shingles): it bounds the join fan-out per gram to cap² and
# makes the op corpus-linear; a >16x-repeated gram pins down no
# specific pair anyway.  Both engines apply the identical cap, so
# parity is exact (all-integer positions and counts).  At 100 TB:
# raise K or lower the cap — the plan shape (two bounded hash
# shuffles + one pair-keyed window) is unchanged.
@query(
    "lcs_doc_pairs_docs",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(g.i AS BIGINT) AS p,
             array_to_string(w[CAST(g.i AS INTEGER):CAST(g.i + 6 AS INTEGER)], ' ') AS g
      FROM tok, LATERAL (
        SELECT unnest(range(1, CAST(len(w) - 5 AS BIGINT))) AS i
      ) g
      WHERE len(w) >= 7
    ),
    freq AS (
      SELECT g FROM pos GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 16
    ),
    pp AS (SELECT p.doc_id, p.p, p.g FROM pos p JOIN freq USING (g)),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, a.p - b.p AS diag
      FROM pp a JOIN pp b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, diag, pa,
             CAST(SUM(CASE WHEN prev_p IS NULL OR pa > prev_p + 1
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY da, db, diag ORDER BY pa) AS BIGINT) AS grp
      FROM (
        SELECT da, db, diag, pa,
               LAG(pa) OVER (PARTITION BY da, db, diag ORDER BY pa) AS prev_p
        FROM pairs
      )
    ),
    rl AS (
      SELECT da, db, CAST(MAX(cnt) + 6 AS BIGINT) AS lcs_words
      FROM (
        SELECT da, db, diag, grp, COUNT(*) AS cnt
        FROM runs GROUP BY da, db, diag, grp
      )
      GROUP BY da, db
    ),
    anch AS (
      SELECT da, db, CAST(COUNT(*) AS BIGINT) AS n_anchors
      FROM pairs GROUP BY da, db
    )
    SELECT r.da, r.db, r.lcs_words, a.n_anchors
    FROM rl r JOIN anch a USING (da, db)
    ORDER BY lcs_words DESC, da, db LIMIT 20
    """,
)
def lcs_doc_pairs_docs(spark, sf_dir):
    from ..operators.dedup import lcs_pairs

    return (
        lcs_pairs(_t(spark, sf_dir, "documents"), k=7, cap=16)
        .orderBy(F.col("lcs_words").desc(), "da", "db")
        .limit(20)
    )


# Production variant: collapse exact-fingerprint duplicates to min-id
# representatives BEFORE the gram join (the jaccard_prefix_join_
# collapsed / simhash_collapsed precedent).  The naive pair join obeys
# the Σ|clone-family|² output law — the 16×-replica probe measured
# 25.5× because every doc gained 15 exact clones (C(16,2) identical
# pairs per family); collapsing returns the probe to the 1× problem.
# The uppercased mirror rows create real multiplicity (the fingerprint
# casefolds, so each mirror collapses onto its original).
@query(
    "lcs_doc_pairs_collapsed",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 10 = 0
    ),
    fp AS (SELECT doc_id, text, {{norm}} AS f FROM all_docs),
    reps AS (
      SELECT f, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS mult
      FROM fp GROUP BY f
    ),
    rd AS (
      SELECT r.doc_id, r.mult, fp.text
      FROM reps r JOIN fp ON fp.doc_id = r.doc_id
    ),
    tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM rd
    ),
    pos AS (
      SELECT doc_id, CAST(g.i AS BIGINT) AS p,
             array_to_string(w[CAST(g.i AS INTEGER):CAST(g.i + 6 AS INTEGER)], ' ') AS g
      FROM tok, LATERAL (
        SELECT unnest(range(1, CAST(len(w) - 5 AS BIGINT))) AS i
      ) g
      WHERE len(w) >= 7
    ),
    freq AS (
      SELECT g FROM pos GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 16
    ),
    pp AS (SELECT p.doc_id, p.p, p.g FROM pos p JOIN freq USING (g)),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, a.p - b.p AS diag
      FROM pp a JOIN pp b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, diag, pa,
             CAST(SUM(CASE WHEN prev_p IS NULL OR pa > prev_p + 1
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY da, db, diag ORDER BY pa) AS BIGINT) AS grp
      FROM (
        SELECT da, db, diag, pa,
               LAG(pa) OVER (PARTITION BY da, db, diag ORDER BY pa) AS prev_p
        FROM pairs
      )
    ),
    rl AS (
      SELECT da, db, CAST(MAX(cnt) + 6 AS BIGINT) AS lcs_words
      FROM (
        SELECT da, db, diag, grp, COUNT(*) AS cnt
        FROM runs GROUP BY da, db, diag, grp
      )
      GROUP BY da, db
    ),
    anch AS (
      SELECT da, db, CAST(COUNT(*) AS BIGINT) AS n_anchors
      FROM pairs GROUP BY da, db
    )
    SELECT r.da, r.db, r.lcs_words, a.n_anchors,
           ma.mult AS multiplicity_a, mb.mult AS multiplicity_b
    FROM rl r
    JOIN anch a USING (da, db)
    JOIN reps ma ON ma.doc_id = r.da
    JOIN reps mb ON mb.doc_id = r.db
    ORDER BY lcs_words DESC, da, db LIMIT 20
    """.replace("{norm}", "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"),
)
def lcs_doc_pairs_collapsed(spark, sf_dir):
    from ..operators.dedup import lcs_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    return (
        lcs_pairs(docs.unionByName(mirror), k=7, cap=16, collapse_exact=True)
        .orderBy(F.col("lcs_words").desc(), "da", "db")
        .limit(20)
    )


# Contamination attributed to eval-set ARRIVAL WAVES: the benchmark
# arrives in releases (waves 0/1/2) and the n-gram index tags each
# shingle with the FIRST wave that contributed it (MIN over waves).
# Per corpus doc: distinct 5-gram count, hit counts split by
# contributing wave, total overlap fraction — i.e. not just "is this
# doc contaminated" but "which benchmark release contaminated it", the
# question a dataset audit actually asks.  Scoring runs
# operators/text.contamination_against_index.  Scale: a real eval
# index is dimension-sized and broadcasts; the hint is size-GATED
# (ADVICE r9) because THIS query's synthetic eval set is a fixed 1/9
# of the corpus, so at scale the join degrades gracefully to one
# shingle-key shuffle per side.
@query(
    "contamination_wave_attribution_docs",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    esh AS (
      SELECT (doc_id // 9) % 3 AS wave,
             unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 3),
                                        i -> array_to_string(w[i:i+4], ' '))
               END) AS s
      FROM tok WHERE doc_id % 9 = 0
    ),
    idx AS (SELECT s, CAST(MIN(wave) AS BIGINT) AS first_wave FROM esh GROUP BY s),
    csh AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 3),
                                        i -> array_to_string(w[i:i+4], ' '))
               END)) AS s
      FROM tok
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN i.first_wave = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_w0,
           CAST(SUM(CASE WHEN i.first_wave = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_w1,
           CAST(SUM(CASE WHEN i.first_wave = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits_w2,
           round(CAST(SUM(CASE WHEN i.first_wave IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS overlap_frac
    FROM csh c LEFT JOIN idx i USING (s)
    GROUP BY c.doc_id ORDER BY doc_id
    """,
)
def contamination_wave_attribution_docs(spark, sf_dir):
    from ..operators.text import contamination_against_index, contamination_shingles

    d = _t(spark, sf_dir, "documents")
    ev = contamination_shingles(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.expr("doc_id div 9") % 3).cast("long").alias("wave"), "text"
        ),
        "wave",
    )
    index = (
        ev.groupBy("s")
        .agg(F.min("wave").cast("bigint").alias("first_wave"))
    )
    return contamination_against_index(
        d.select("doc_id", "text"), index
    ).orderBy("doc_id")


# Per-domain calibration drift — isotonic (PAV) calibration of the
# quality scorer fitted WITHIN each source, compared bin-by-bin to the
# global fit: the composition of isotonic_calibration_docs (the global
# map) and domain_reweight_step_docs' per-source view.  A source whose
# fitted curve sits far from the global one is a domain where the
# shared quality threshold mislabels — the audit run before applying
# one corpus-wide filter to heterogeneous sources.  PAV keeps the
# closed minimax form fitted(k) = max_{i<=k} min_{j>=k} pool(i,j) per
# source over the decile grid, so after the corpus reduction to
# (source, bin) counts everything is broadcast-sized; every pool is
# ONE correctly-rounded division of exact int64 sums, and |a - b| of
# identical doubles is exact IEEE — bit parity with no extra rounding.
# Output stays per (source, bin) — no double summation anywhere, so
# no fold-order hazard.
@query(
    "domain_calibration_drift_docs",
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
      SELECT doc.source AS source,
             least(CAST(floor(s.q * 10) AS INTEGER), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(l.y) AS BIGINT) AS n_pos
      FROM scored s
      JOIN lab l ON s.doc_id = l.doc_id
      JOIN documents doc ON s.doc_id = doc.doc_id
      GROUP BY 1, 2
    ),
    ivals AS (
      SELECT a.source, a.bin AS i, b.bin AS j,
             CAST(SUM(m.n) AS BIGINT) AS nn,
             CAST(SUM(m.n_pos) AS BIGINT) AS pp
      FROM dec a
      JOIN dec b ON a.source = b.source AND a.bin <= b.bin
      JOIN dec m ON m.source = a.source AND m.bin BETWEEN a.bin AND b.bin
      GROUP BY a.source, a.bin, b.bin
    ),
    mins AS (
      SELECT iv.source, iv.i, k.bin AS k,
             MIN(CAST(iv.pp AS DOUBLE) / CAST(iv.nn AS DOUBLE)) AS minpool
      FROM ivals iv
      JOIN dec k ON k.source = iv.source AND iv.i <= k.bin AND k.bin <= iv.j
      GROUP BY iv.source, iv.i, k.bin
    ),
    fit AS (
      SELECT source, k AS bin, MAX(minpool) AS fitted
      FROM mins GROUP BY source, k
    ),
    gdec AS (
      SELECT bin, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(n_pos) AS BIGINT) AS n_pos
      FROM dec GROUP BY bin
    ),
    givals AS (
      SELECT a.bin AS i, b.bin AS j,
             CAST(SUM(m.n) AS BIGINT) AS nn,
             CAST(SUM(m.n_pos) AS BIGINT) AS pp
      FROM gdec a JOIN gdec b ON a.bin <= b.bin
      JOIN gdec m ON m.bin BETWEEN a.bin AND b.bin
      GROUP BY a.bin, b.bin
    ),
    gmins AS (
      SELECT iv.i, k.bin AS k,
             MIN(CAST(iv.pp AS DOUBLE) / CAST(iv.nn AS DOUBLE)) AS minpool
      FROM givals iv JOIN gdec k ON iv.i <= k.bin AND k.bin <= iv.j
      GROUP BY iv.i, k.bin
    ),
    gfit AS (SELECT k AS bin, MAX(minpool) AS fitted FROM gmins GROUP BY k)
    SELECT d.source, d.bin, d.n, d.n_pos,
           round(CAST(d.n_pos AS DOUBLE) / CAST(d.n AS DOUBLE), 6) AS raw_rate,
           round(f.fitted, 6) AS fitted_src,
           round(g.fitted, 6) AS fitted_global,
           round(abs(f.fitted - g.fitted), 6) AS drift
    FROM dec d
    JOIN fit f ON f.source = d.source AND f.bin = d.bin
    JOIN gfit g ON g.bin = d.bin
    ORDER BY d.source, d.bin
    """,
)
def domain_calibration_drift_docs(spark, sf_dir):
    from ..operators.text import quality_score
    from .q09_quality_cdc import _gopher_per_doc

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", quality_score(F.col("text")).alias("q"))
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
            "source",
            F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9)).alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    # <= sources x 10 rows; feeds both PAV passes
    dec = materialize(dec, "domain_calibration_drift_docs.dec")

    def _pav(grid, keys):
        # grid: (keys..., bin, n, n_pos) — returns (keys..., bin, fitted)
        a = grid.select(*keys, F.col("bin").alias("i"))
        b = grid.select(*[F.col(k).alias(f"__b_{k}") for k in keys],
                        F.col("bin").alias("j"))
        m = grid.select(*[F.col(k).alias(f"__m_{k}") for k in keys],
                        F.col("bin").alias("mid"), "n", "n_pos")
        ab = F.broadcast(a).join(
            b,
            [F.col(k) == F.col(f"__b_{k}") for k in keys]
            + [F.col("i") <= F.col("j")]
            if keys
            else F.col("i") <= F.col("j"),
        )
        ivals = (
            ab.join(
                F.broadcast(m),
                [F.col(k) == F.col(f"__m_{k}") for k in keys]
                + [(F.col("mid") >= F.col("i")) & (F.col("mid") <= F.col("j"))]
                if keys
                else (F.col("mid") >= F.col("i")) & (F.col("mid") <= F.col("j")),
            )
            .groupBy(*keys, "i", "j")
            .agg(
                F.sum("n").cast("bigint").alias("nn"),
                F.sum("n_pos").cast("bigint").alias("pp"),
            )
        )
        ks = grid.select(*[F.col(k).alias(f"__k_{k}") for k in keys],
                         F.col("bin").alias("k"))
        mins = (
            ivals.join(
                F.broadcast(ks),
                [F.col(kk) == F.col(f"__k_{kk}") for kk in keys]
                + [(F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j"))]
                if keys
                else (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")),
            )
            .groupBy(*keys, "i", "k")
            .agg(
                F.min(
                    F.col("pp").cast("double") / F.col("nn").cast("double")
                ).alias("mp")
            )
        )
        return mins.groupBy(*keys, F.col("k").alias("bin")).agg(
            F.max("mp").alias("fitted")
        )

    fit_src = _pav(dec, ["source"])
    gdec = dec.groupBy("bin").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
    )
    fit_glob = _pav(gdec, []).withColumnRenamed("fitted", "gfitted")
    return (
        dec.join(fit_src, ["source", "bin"])
        .join(F.broadcast(fit_glob), "bin")
        .select(
            "source",
            "bin",
            "n",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
            .alias("raw_rate"),
            F.round("fitted", 6).alias("fitted_src"),
            F.round("gfitted", 6).alias("fitted_global"),
            F.round(F.abs(F.col("fitted") - F.col("gfitted")), 6).alias("drift"),
        )
        .orderBy("source", "bin")
    )
