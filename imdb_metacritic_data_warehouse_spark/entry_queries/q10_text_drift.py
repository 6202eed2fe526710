"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _t, _units4, global_row_number, materialize, query
from .q01_warehouse import cosine_topk
from .q02_pipeline_parity import Window
from ..operators.text import tokens



# ---------------------------------------------------------------------------
# Round-7 wave 20 — training-data text ops: winnowing fingerprints,
# DSIR importance selection, naive-Bayes language classifier,
# deletion-join spell candidates, content-defined chunk dedup.

# MOSS winnowing fingerprints + cross-doc overlap audit (Schleimer,
# Wilkerson & Aiken, SIGMOD'03 — the plagiarism/clone-detection
# standard).  From each window of w=4 consecutive 3-gram hashes select
# the MINIMUM, rightmost on ties; the selected set is position-
# independent evidence of shared substrings with guaranteed detection
# of matches ≥ w+n−1 words.  Rightmost-min via ONE integer key:
# hash·2²⁰ + (2²⁰−1−pos) — min() of that key is (min hash, max pos),
# the exact winnowing tie rule, in plain int64 arithmetic both engines
# share (40-bit md5 hash ⇒ key < 2⁶⁰; docs are assumed < 2²⁰ words —
# chunk longer docs first).  The pair audit joins fingerprints with
# df ≤ 64 (ubiquitous fingerprints are boilerplate, excluded by
# standard practice — and the LSH bucket-size discipline: a hot
# fingerprint would otherwise emit |bucket|² pairs).  Windows are
# doc-partitioned (per-doc sequence length bounds the task).
@query(
    "winnowing_fingerprints_docs",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT doc_id, i - 1 AS pos,
             CAST(CONCAT('0x', substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 10)) AS BIGINT) AS h
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3
    ),
    k AS (
      SELECT doc_id, pos,
             h * 1048576 + (1048575 - pos) AS key,
             MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM sh
    ),
    sel AS (
      SELECT doc_id,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      FROM k WHERE pos <= max_pos - 3
    ),
    fp AS (SELECT DISTINCT doc_id, mk // 1048576 AS fph FROM sel),
    df AS (SELECT fph, COUNT(*) AS d FROM fp GROUP BY fph),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
      JOIN df ON df.fph = a.fph
      WHERE df.d <= 64
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, shared_fps FROM pairs WHERE shared_fps >= 2
    ORDER BY shared_fps DESC, doc_a, doc_b
    """,
)
def winnowing_fingerprints_docs(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d)
    # r11: document frequency as a WINDOW count riding the fph exchange
    # (the jaccard r10 trick — one exchange instead of aggregate+join),
    # and the filtered table checkpointed ONCE: the profile showed the
    # winnow chain executing twice and its exchange read four times
    # (dfreq + join probe + both self-join sides).
    small = (
        fp.withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("fph")))
        .filter(F.col("d") <= 64)
        .select("fph", "doc_id")
    )
    small = materialize(small, "winnowing_fingerprints_docs.small")
    pairs = (
        small.alias("a")
        .join(
            small.select(F.col("fph"), F.col("doc_id").alias("doc_b")).alias("b"),
            (F.col("a.fph") == F.col("b.fph"))
            & (F.col("a.doc_id") < F.col("doc_b")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )
    return pairs.select("doc_a", "doc_b", "shared_fps").orderBy(
        F.desc("shared_fps"), "doc_a", "doc_b"
    )


# DSIR-style importance-resampled data selection (Xie et al., 2023 —
# Data Selection via Importance Resampling): score every raw-pool doc
# by how target-like its hashed-bigram distribution is, keep the top
# 10%.  Features are bigrams hashed into 256 buckets (the hashed
# n-gram feature space of the paper); per-bucket log importance ratio
# ln(p̂_target(b)/p̂_raw(b)) with add-one smoothing is computed on the
# 256-row bucket table (ln on VALUES under round-6 → int64 1e-6 units
# — NOTES rule #3 discipline), so each doc's weight is an EXACT int64
# dot product Σ_b n_b(doc)·lr_units(b).  The ln argument is one exact
# integer cross-ratio (t_b+1)(R+256) / (r_b+1)(T+256) — products stay
# < 2^53 while total bigram counts < ~9e6; at corpus scales beyond
# that, subtract two ln's instead (documented, not silently applied).
# Selection = top-⌊n/10⌋ by (weight, doc_id) via the two-phase global
# rank (integer rank keys — rule #7 moot).
@query(
    "dsir_selection_docs",
    """
    WITH tok AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT doc_id, source,
             CAST(CONCAT('0x', substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15)) AS BIGINT) % 256 AS b
      FROM tok, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2
    ),
    nb AS (
      SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS n
      FROM bg GROUP BY doc_id, source, b
    ),
    tb AS (
      SELECT b,
             CAST(SUM(CASE WHEN source = 'src1' THEN n ELSE 0 END) AS BIGINT) AS t_b,
             CAST(SUM(CASE WHEN source <> 'src1' THEN n ELSE 0 END) AS BIGINT) AS r_b
      FROM nb GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(t_b) AS BIGINT) AS tt, CAST(SUM(r_b) AS BIGINT) AS rr FROM tb
    ),
    lr AS (
      SELECT b,
             CAST(CAST(round(ln(CAST((t_b + 1) * (rr + 256) AS DOUBLE)
                                / ((r_b + 1) * (tt + 256))), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lru
      FROM tb CROSS JOIN tot
    ),
    wdoc AS (
      SELECT nb.doc_id, nb.source, CAST(SUM(nb.n * lr.lru) AS BIGINT) AS wu
      FROM nb JOIN lr ON nb.b = lr.b
      WHERE nb.source <> 'src1'
      GROUP BY nb.doc_id, nb.source
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wdoc),
    rk AS (
      SELECT doc_id, source, wu,
             row_number() OVER (ORDER BY wu DESC, doc_id) AS rn
      FROM wdoc
    )
    SELECT doc_id, source,
           round(CAST(wu AS DOUBLE) / 1000000.0, 6) AS weight,
           CAST(rn AS BIGINT) AS rn
    FROM rk CROSS JOIN nn WHERE rn * 10 <= n ORDER BY rn
    """,
)
def dsir_selection_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        d.filter(F.size(words) >= 2)
        .select("doc_id", "source", F.posexplode(words).alias("pos", "w0"))
        .select(
            "doc_id", "source", "w0", F.lead("w0", 1).over(w).alias("w1")
        )
        .filter(F.col("w1").isNotNull())
        .select(
            "doc_id",
            "source",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("w0"), F.lit(" "), F.col("w1"))),
                        1, 15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 256
            ).alias("b"),
        )
    )
    nb = bg.groupBy("doc_id", "source", "b").agg(F.count(F.lit(1)).alias("n"))
    tb = nb.groupBy("b").agg(
        F.sum(F.when(F.col("source") == "src1", F.col("n")).otherwise(0))
        .cast("long").alias("t_b"),
        F.sum(F.when(F.col("source") != "src1", F.col("n")).otherwise(0))
        .cast("long").alias("r_b"),
    )
    tot = tb.agg(
        F.sum("t_b").cast("long").alias("tt"),
        F.sum("r_b").cast("long").alias("rr"),
    )
    lr = (
        tb.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.round(
                    F.log(
                        ((F.col("t_b") + 1) * (F.col("rr") + 256)).cast("double")
                        / ((F.col("r_b") + 1) * (F.col("tt") + 256))
                    ),
                    6,
                ).cast("decimal(18,6)")
                * 1000000
            ).cast("long").alias("lru"),
        )
    )
    wdoc = (
        nb.filter(F.col("source") != "src1")
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("n") * F.col("lru")).cast("long").alias("wu"))
    )
    nn = wdoc.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_row_number(
        wdoc, [F.desc("wu"), F.asc("doc_id")], out_col="rn"
    )
    return (
        ranked.crossJoin(F.broadcast(nn))
        .filter(F.col("rn") * 10 <= F.col("n"))
        .select(
            "doc_id",
            "source",
            F.round(F.col("wu").cast("double") / F.lit(1000000.0), 6).alias(
                "weight"
            ),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("rn")
    )


# Trained multinomial naive-Bayes language classifier — the classic
# trained-counts classifier beside the stopword-heuristic language_id
# (langid_confusion_docs) and the fixed-weight quality_logit: train on
# a 90% content-hash split (Laplace-smoothed token likelihoods +
# class priors), score the held-out 10%, report the confusion matrix.
# Every model parameter is a round-6'd ln of one exact integer ratio
# stored as int64 1e-6 units on the vocab×classes grid (vocab-bounded,
# never corpus-bounded), so each doc's class score is an EXACT integer
# prior_u + Σ lu(token, class) — argmax with (score desc, class) ties
# is deterministic cross-engine.  OOV test tokens drop out of the
# inner token⋈grid join on BOTH engines (the standard NB treatment
# when smoothing only the training vocabulary).
@query(
    "naive_bayes_lang_docs",
    """
    WITH docs AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS ws,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bkt
      FROM documents
    ),
    tr_tok AS (SELECT lang, t FROM docs, UNNEST(ws) AS u(t) WHERE bkt <> 0),
    cnt AS (SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
            FROM tr_tok GROUP BY lang, t),
    ctot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tok_c
             FROM tr_tok GROUP BY lang),
    vocab AS (SELECT DISTINCT t FROM tr_tok),
    vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    prior AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_c
              FROM docs WHERE bkt <> 0 GROUP BY lang),
    pn AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
           FROM prior),
    pri_u AS (
      SELECT lang,
             CAST(CAST(round(ln(CAST(n_c + 1 AS DOUBLE) / (n + k)), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pu
      FROM prior CROSS JOIN pn
    ),
    grid AS (
      SELECT v.t, ct.lang,
             CAST(CAST(round(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                                / (ct.tok_c + vn.v)), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lu
      FROM vocab v CROSS JOIN ctot ct CROSS JOIN vn
      LEFT JOIN cnt c ON c.t = v.t AND c.lang = ct.lang
    ),
    te_tok AS (SELECT doc_id, t FROM docs, UNNEST(ws) AS u(t) WHERE bkt = 0),
    ts AS (
      SELECT tt.doc_id, g.lang, CAST(SUM(g.lu) AS BIGINT) AS s
      FROM te_tok tt JOIN grid g ON tt.t = g.t GROUP BY tt.doc_id, g.lang
    ),
    te AS (SELECT doc_id, lang AS true_lang FROM docs WHERE bkt = 0),
    scores AS (
      SELECT te.doc_id, te.true_lang, p.lang AS cls,
             p.pu + COALESCE(ts.s, 0) AS score
      FROM te CROSS JOIN pri_u p
      LEFT JOIN ts ON ts.doc_id = te.doc_id AND ts.lang = p.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, cls,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cls) AS rn
      FROM scores
    )
    SELECT true_lang, cls AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY true_lang, cls ORDER BY true_lang, pred_lang
    """,
)
def naive_bayes_lang_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
    )
    docs = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("ws"),
        bkt.alias("bkt"),
    )
    tr_tok = docs.filter(F.col("bkt") != 0).select(
        "lang", F.explode("ws").alias("t")
    )
    cnt = tr_tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    ctot = tr_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("tok_c"))
    vocab = tr_tok.select("t").distinct()
    vn = vocab.agg(F.count(F.lit(1)).alias("v"))
    prior = (
        docs.filter(F.col("bkt") != 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    pn = prior.agg(
        F.sum("n_c").cast("long").alias("n"), F.count(F.lit(1)).alias("k")
    )

    def _units(col):
        return (F.round(col, 6).cast("decimal(18,6)") * 1000000).cast("long")

    pri_u = prior.crossJoin(F.broadcast(pn)).select(
        "lang",
        _units(
            F.log((F.col("n_c") + 1).cast("double") / (F.col("n") + F.col("k")))
        ).alias("pu"),
    )
    grid = (
        vocab.crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(vn))
        .join(cnt, ["t", "lang"], "left")
        .select(
            "t",
            "lang",
            _units(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("tok_c") + F.col("v"))
                )
            ).alias("lu"),
        )
    )
    te_tok = docs.filter(F.col("bkt") == 0).select(
        "doc_id", F.explode("ws").alias("t")
    )
    ts = (
        te_tok.join(grid, "t")
        .groupBy("doc_id", "lang")
        .agg(F.sum("lu").cast("long").alias("s"))
    )
    te = docs.filter(F.col("bkt") == 0).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    scores = (
        te.crossJoin(F.broadcast(pri_u.select(F.col("lang").alias("cls"), "pu")))
        .join(
            ts.select(
                F.col("doc_id").alias("ts_doc"),
                F.col("lang").alias("ts_cls"),
                "s",
            ),
            (F.col("doc_id") == F.col("ts_doc"))
            & (F.col("cls") == F.col("ts_cls")),
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cls",
            (F.col("pu") + F.coalesce(F.col("s"), F.lit(0))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    pred = scores.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        pred.groupBy("true_lang", F.col("cls").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# SymSpell-style spell-correction candidates via the deletion-
# neighborhood join (Garbe's symmetric-delete algorithm — the scalable
# alternative to banded-Levenshtein fuzzy joins: edit-distance-1
# candidates are exactly the token pairs sharing a 1-deletion variant,
# so the quadratic vocab×vocab comparison becomes ONE equi-join on
# deletion strings, vocab·len(token)-sized).  The corpus first gets
# DETERMINISTIC planted typos (1-in-16 content-hash-selected occurrences drop
# their 2nd character) so the fixture is guaranteed non-empty and both
# engines replay the identical surgery; candidates are then verified
# with levenshtein ≤ 1 (the standard SymSpell verify step — a shared
# deletion at different positions can be distance 2) and resolved to
# the highest-frequency correction (integer counts, lexical ties).
# Float-free end to end.
@query(
    "spell_candidates_docs",
    """
    WITH tok0 AS (
      SELECT doc_id, i - 1 AS pos, ws[i] AS w
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
           UNNEST(generate_series(1, len(ws))) AS t(i)
    ),
    tok AS (
      SELECT doc_id, pos,
             CASE WHEN length(w) >= 4
                   AND CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0
                  THEN substr(w, 1, 1) || substr(w, 3)
                  ELSE w END AS w
      FROM tok0
    ),
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY w),
    mx AS (SELECT CAST(MAX(f) AS BIGINT) AS mf FROM freq),
    vocab AS (SELECT w, f FROM freq CROSS JOIN mx WHERE f * 50 >= mf),
    rare AS (SELECT w, f FROM freq CROSS JOIN mx
             WHERE f * 8 <= mf AND length(w) >= 3),
    vd AS (
      SELECT DISTINCT v.w, d AS del
      FROM vocab v,
           UNNEST(list_append(list_transform(generate_series(1, length(v.w)),
                  i -> substr(v.w, 1, i - 1) || substr(v.w, i + 1)), v.w)) AS t(d)
    ),
    rd AS (
      SELECT DISTINCT r.w, d AS del
      FROM rare r,
           UNNEST(list_append(list_transform(generate_series(1, length(r.w)),
                  i -> substr(r.w, 1, i - 1) || substr(r.w, i + 1)), r.w)) AS t(d)
    ),
    cand AS (
      SELECT DISTINCT rd.w AS typo, vd.w AS corr
      FROM rd JOIN vd ON rd.del = vd.del
      WHERE rd.w <> vd.w AND levenshtein(rd.w, vd.w) <= 1
    ),
    best AS (
      SELECT c.typo, c.corr, v.f AS corr_freq,
             row_number() OVER (PARTITION BY c.typo
                                ORDER BY v.f DESC, c.corr) AS rn
      FROM cand c JOIN vocab v ON c.corr = v.w
    )
    SELECT b.typo, b.corr AS correction, b.corr_freq, r.f AS n_occurrences
    FROM best b JOIN rare r ON b.typo = r.w
    WHERE rn = 1 ORDER BY b.typo
    """,
)
def spell_candidates_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    tok0 = d.select("doc_id", F.posexplode(words).alias("pos", "w"))
    sel = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                ), 1, 8,
            ), 16, 10,
        ).cast("long") % 16 == 0
    )
    tok = tok0.select(
        "doc_id",
        "pos",
        F.when(
            (F.length("w") >= 4) & sel,
            F.concat(F.expr("substr(w, 1, 1)"), F.expr("substr(w, 3)")),
        ).otherwise(F.col("w")).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    # Scale-invariant thresholds: a planted typo's frequency tracks its
    # source word's (≈ f_orig/16 under the 1-in-16 selector — safely inside the f·8 ≤ max_f rare band, which a 1-in-7 selector just misses), so absolute
    # cutoffs stop selecting anything as the corpus grows — anchor both
    # sets to the corpus mode instead (integer cross-multiplication,
    # float-free).
    mx = freq.agg(F.max("f").alias("mf"))
    vocab = freq.crossJoin(F.broadcast(mx)).filter(
        F.col("f") * 50 >= F.col("mf")
    ).select("w", "f")
    rare = freq.crossJoin(F.broadcast(mx)).filter(
        (F.col("f") * 8 <= F.col("mf")) & (F.length("w") >= 3)
    ).select("w", "f")
    dels = F.explode(
        F.expr(
            "array_append(transform(sequence(1, length(w)),"
            " i -> concat(substr(w, 1, i - 1), substr(w, i + 1))), w)"
        )
    )
    vd = vocab.select("w", dels.alias("del")).distinct()
    rd = rare.select("w", dels.alias("del")).distinct()
    cand = (
        rd.select(F.col("w").alias("typo"), "del")
        .join(F.broadcast(vd.select(F.col("w").alias("corr"), "del")), "del")
        .filter(
            (F.col("typo") != F.col("corr"))
            & (F.levenshtein("typo", "corr") <= 1)
        )
        .select("typo", "corr")
        .distinct()
    )
    w = Window.partitionBy("typo").orderBy(F.desc("corr_freq"), F.asc("corr"))
    best = (
        cand.join(
            F.broadcast(vocab.select(F.col("w").alias("corr"),
                                     F.col("f").alias("corr_freq"))), "corr")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        best.join(
            rare.select(F.col("w").alias("typo"),
                        F.col("f").alias("n_occurrences")), "typo")
        .select(
            "typo", F.col("corr").alias("correction"), "corr_freq",
            "n_occurrences",
        )
        .orderBy("typo")
    )


# Content-defined chunking dedup (the FastCDC/rsync family, on word
# streams): chunk boundaries cut where the hash of the local 2-gram
# context ≡ 0 (mod 8), so an insertion reshuffles only the chunks
# around the edit — unlike fixed-width chunking, where one inserted
# word shifts EVERY downstream chunk boundary (the property that makes
# CDC the storage/blob-dedup standard).  Expected chunk length = the
# modulus.  Per-doc windows only (lag + running cumsum, per-doc
# sequence length bounds the task); chunks assemble in-aggregate via
# the sorted-struct idiom; dedup ratios are exact-integer counts with
# one correctly-rounded division at the end.
@query(
    "cdc_chunk_dedup_docs",
    """
    WITH tok AS (
      SELECT doc_id, source, i - 1 AS pos, ws[i] AS w
      FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS ws
            FROM documents),
           UNNEST(generate_series(1, len(ws))) AS t(i)
    ),
    b AS (
      SELECT doc_id, source, pos, w,
             CASE WHEN pos = 0 THEN 1
                  WHEN CAST(CONCAT('0x', substr(md5(
                         lag(w) OVER (PARTITION BY doc_id ORDER BY pos)
                         || ' ' || w), 1, 15)) AS BIGINT) % 8 = 0
                  THEN 1 ELSE 0 END AS is_cut
      FROM tok
    ),
    c AS (
      SELECT doc_id, source, pos, w,
             SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM b
    ),
    chunks AS (
      SELECT doc_id, source, chunk_id,
             md5(string_agg(w, ' ' ORDER BY pos)) AS fp,
             CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM c GROUP BY doc_id, source, chunk_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
           round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
             AS dup_share,
           round(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 6) AS mean_chunk_tokens
    FROM chunks GROUP BY source ORDER BY source
    """,
)
def cdc_chunk_dedup_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    tok = d.select("doc_id", "source", F.posexplode(words).alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    cut_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lag("w", 1).over(w), F.lit(" "), F.col("w"))),
                1, 15,
            ), 16, 10,
        ).cast("long") % 8
    )
    b = tok.withColumn(
        "is_cut",
        F.when(F.col("pos") == 0, F.lit(1))
        .when(cut_hash == 0, F.lit(1))
        .otherwise(F.lit(0)),
    )
    c = b.withColumn(
        "chunk_id",
        F.sum("is_cut").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    chunks = c.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            )
        ).alias("fp"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("fp").alias("n_distinct"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("fp").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("dup_share"),
            F.round(
                F.sum("n_tok").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_chunk_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-7 wave 21 — ECOD outlier detection + storage vacuum planning.

# ECOD unsupervised outlier scores (Li et al., TKDE'22 — "Unsupervised
# Outlier Detection Using Empirical Cumulative Distribution
# Functions"): per dimension, a point's tail probability is
# min(F̂(x), 1−F̂(x)); the outlier score sums −ln(tail) over
# dimensions — no training, no distance matrix, embarrassingly
# parallel per dimension (the paper's selling point, and exactly the
# shape Spark wants: dim-keyed aggregates, never an all-pairs join).
# Parity discipline: values quantize to the 1e-3 grid first so the
# ECDF is a VALUE-level aggregate (distinct-value-bounded, the
# mannwhitney discipline — at 100 TB the per-dim ECDF runs over the
# bounded quantized-value table, not N rows); each −ln(tail) is
# round-6'd on the (dim, value) table → int64 1e-6 units → per-vector
# scores are EXACT integer sums.  Tails are ratios of exact int64
# counts (single correctly-rounded division before the ln).  First 8
# dims (the audit's scope knob).
@query(
    "ecod_outliers_embeddings",
    """
    WITH x AS (
      SELECT vec_id, label, d - 1 AS dim,
             CAST(round(CAST(embedding[d] AS DOUBLE) * 1000, 0) AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, 8)) AS t(d)
    ),
    vc AS (SELECT dim, q, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY dim, q),
    n AS (SELECT dim, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY dim),
    ecdf AS (
      SELECT vc.dim, vc.q, vc.c, n.n,
             CAST(SUM(vc.c) OVER (PARTITION BY vc.dim ORDER BY vc.q) AS BIGINT) AS cum
      FROM vc JOIN n ON vc.dim = n.dim
    ),
    term AS (
      SELECT dim, q,
             CAST(CAST(round(-ln(CAST(LEAST(cum, n - cum + c) AS DOUBLE) / n), 6)
                  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS tu
      FROM ecdf
    ),
    score AS (
      SELECT x.vec_id, MAX(x.label) AS label, CAST(SUM(term.tu) AS BIGINT) AS su
      FROM x JOIN term ON x.dim = term.dim AND x.q = term.q
      GROUP BY x.vec_id
    )
    SELECT vec_id, label, round(CAST(su AS DOUBLE) / 1000000.0, 6) AS ecod_score
    FROM score ORDER BY su DESC, vec_id LIMIT 25
    """,
)
def ecod_outliers_embeddings(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1000, 0).cast("long").alias("q"),
    )
    vc = x.groupBy("dim", "q").agg(F.count(F.lit(1)).alias("c"))
    n = vc.groupBy("dim").agg(F.sum("c").cast("long").alias("n"))
    # Value-level ECDF: the window runs over the DISTINCT quantized
    # values of one dimension (bounded by the 1e-3 grid), never over
    # raw rows.
    wq = Window.partitionBy("dim").orderBy("q")
    ecdf = (
        vc.join(F.broadcast(n), "dim")
        .withColumn("cum", F.sum("c").over(wq).cast("long"))
    )
    term = ecdf.select(
        "dim",
        "q",
        (
            F.round(
                -F.log(
                    F.least(
                        F.col("cum"), F.col("n") - F.col("cum") + F.col("c")
                    ).cast("double")
                    / F.col("n")
                ),
                6,
            ).cast("decimal(18,6)")
            * 1000000
        ).cast("long").alias("tu"),
    )
    score = (
        x.join(term, ["dim", "q"])
        .groupBy("vec_id")
        .agg(F.max("label").alias("label"), F.sum("tu").cast("long").alias("su"))
    )
    return (
        score.orderBy(F.desc("su"), F.asc("vec_id"))
        .limit(25)
        .select(
            "vec_id",
            "label",
            F.round(F.col("su").cast("double") / F.lit(1000000.0), 6).alias(
                "ecod_score"
            ),
        )
    )


# TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04) — weighted
# PageRank over the word co-occurrence graph (adjacent-word pairs,
# co-occurrence counts as edge weights).  The scale story is the whole
# point: one corpus scan builds a VOCAB-sized graph (nodes = distinct
# words, edges = distinct adjacent pairs), so the iterations cost
# vocabulary-sized joins however large the corpus — the same
# corpus-once/rounds-small discipline as BPE training.  Two unrolled
# iterations, damping 0.85 with the (1−d)/n expression SHAPE kept
# un-folded on both engines (they differ by 1 ulp when pre-folded —
# the pagerank_parts lesson) and round(…,8) on the final score
# absorbing summation-order drift; ranking keys on the ROUNDED score
# (rule #7) with word tie-breaks.
@query(
    "textrank_keywords_docs",
    """
    WITH adj AS (
      SELECT lower(ws[i]) AS wa, lower(ws[i + 1]) AS wb
      FROM (SELECT string_split(lower(text), ' ') AS ws FROM documents),
           UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2 AND ws[i] <> ws[i + 1]
    ),
    pw AS (
      SELECT LEAST(wa, wb) AS a, GREATEST(wa, wb) AS b,
             CAST(COUNT(*) AS BIGINT) AS wt
      FROM adj GROUP BY LEAST(wa, wb), GREATEST(wa, wb)
    ),
    sym AS (
      SELECT a AS src, b AS dst, wt FROM pw
      UNION ALL SELECT b AS src, a AS dst, wt FROM pw
    ),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    st AS (SELECT src, CAST(SUM(wt) AS BIGINT) AS s FROM sym GROUP BY src),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / n AS pr FROM nodes CROSS JOIN nn),
    c1 AS (
      SELECT e.dst AS node, SUM(r.pr * e.wt / st.s) AS c
      FROM sym e JOIN r0 r ON e.src = r.node JOIN st ON e.src = st.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(c1.c, 0) AS pr
      FROM nodes n CROSS JOIN nn LEFT JOIN c1 ON n.node = c1.node
    ),
    c2 AS (
      SELECT e.dst AS node, SUM(r.pr * e.wt / st.s) AS c
      FROM sym e JOIN r1 r ON e.src = r.node JOIN st ON e.src = st.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(c2.c, 0) AS pr
      FROM nodes n CROSS JOIN nn LEFT JOIN c2 ON n.node = c2.node
    )
    SELECT node AS word, round(pr, 8) AS score
    FROM r2 ORDER BY score DESC, word LIMIT 15
    """,
)
def textrank_keywords_docs(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        d.filter(F.size(words) >= 2)
        .select("doc_id", F.posexplode(words).alias("pos", "wa"))
        .select("wa", F.lead("wa", 1).over(w).alias("wb"))
        .filter(F.col("wb").isNotNull() & (F.col("wa") != F.col("wb")))
    )
    pw = adj.groupBy(
        F.least("wa", "wb").alias("a"), F.greatest("wa", "wb").alias("b")
    ).agg(F.count(F.lit(1)).alias("wt"))
    sym = materialize(pw.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "wt"
    ).unionByName(
        pw.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt")
    ), "textrank_keywords_docs.sym")  # feeds nodes/strength/2 iterations
    nodes = sym.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # scalar only
    st = sym.groupBy("src").agg(F.sum("wt").cast("long").alias("s"))
    base = (1.0 - 0.85) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    st_n = st.withColumnRenamed("src", "node")
    for _ in range(2):
        rd = ranks.join(st_n, "node").select(
            F.col("node").alias("rsrc"), "pr", "s"
        )
        contrib = (
            sym.join(F.broadcast(rd), sym["src"] == rd["rsrc"])
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") * F.col("wt") / F.col("s")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("pr"),
        )
    return (
        ranks.select(F.col("node").alias("word"), F.round("pr", 8).alias("score"))
        .orderBy(F.desc("score"), F.asc("word"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Round-7 wave 22 — distribution drift as a true metric, heavy-tail
# profiling, the retrieval hit-rate panel beside nDCG, and exact
# Shapley data-source valuation over submodular shingle coverage.

# Wasserstein-1 (earth-mover) drift between two order periods — the
# metric drift monitors should report next to KS/PSI/JS: unlike KS
# (sup of the CDF gap) or binned PSI, W1 integrates the FULL CDF gap
# in price units, so "how far did the distribution move in dollars" is
# answered directly.  Exact discipline: W1 = Σ_i |C1_i·n2 − C2_i·n1|
# ·Δv_i / (n1·n2) over the value-level breakpoint table — every factor
# an exact integer (prices as 1e-4 units), accumulated in
# decimal(38,0) (|C1·n2−C2·n1| ≤ n1·n2 needs decimal(26,0) headroom
# ×Δv ≤ 1e12 stays under 1e38), ONE double conversion at the end
# (scale-0 decimal→double rounds once in both engines — the rule-#6
# double-rounding only bites at scale > 0).  Scale: the heavy
# reduction is the value-level groupBy; rank + both cumulative counts
# ride ONE fused range exchange (rank.global_prefix, the N-ary
# two-phase primitive), and ordered adjacency (Δv) is an equi-join on
# rn+1, never a global window.  Per-priority groups plus an ALL row.
@query(
    "wasserstein_drift_orders",
    """
    WITH o AS (
      SELECT o_orderpriority AS grp0,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
             CASE WHEN year(o_orderdate) BETWEEN 1995 AND 1997 THEN 1 ELSE 0 END AS b1,
             CASE WHEN year(o_orderdate) BETWEEN 1998 AND 2000 THEN 1 ELSE 0 END AS b2
      FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2000
    ),
    u AS (
      SELECT grp0 AS grp, v, b1, b2 FROM o
      UNION ALL SELECT 'ALL', v, b1, b2 FROM o
    ),
    vl AS (
      SELECT grp, v, CAST(SUM(b1) AS BIGINT) AS c1, CAST(SUM(b2) AS BIGINT) AS c2
      FROM u GROUP BY grp, v
    ),
    cum AS (
      SELECT grp, v,
             SUM(c1) OVER (PARTITION BY grp ORDER BY v) AS cc1,
             SUM(c2) OVER (PARTITION BY grp ORDER BY v) AS cc2,
             LEAD(v) OVER (PARTITION BY grp ORDER BY v) AS v_next
      FROM vl
    ),
    tot AS (
      SELECT grp, CAST(SUM(b1) AS BIGINT) AS n1, CAST(SUM(b2) AS BIGINT) AS n2,
             CAST(SUM(b1 * v) AS BIGINT) AS s1, CAST(SUM(b2 * v) AS BIGINT) AS s2
      FROM u GROUP BY grp
    ),
    num AS (
      SELECT c.grp,
             SUM(CAST(abs(CAST(c.cc1 AS DECIMAL(19,0)) * t.n2
                          - CAST(c.cc2 AS DECIMAL(19,0)) * t.n1) AS DECIMAL(26,0))
                 * CAST(c.v_next - c.v AS DECIMAL(12,0))) AS w1num
      FROM cum c JOIN tot t USING (grp)
      WHERE c.v_next IS NOT NULL
      GROUP BY c.grp
    )
    SELECT t.grp, t.n1 AS n_base, t.n2 AS n_curr,
           round(CAST(t.s1 AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * 10000.0), 6)
             AS mean_base,
           round(CAST(t.s2 AS DOUBLE) / (CAST(t.n2 AS DOUBLE) * 10000.0), 6)
             AS mean_curr,
           round(CAST(n.w1num AS DOUBLE)
                 / (CAST(t.n1 * t.n2 AS DOUBLE) * 10000.0), 6) AS w1_price
    FROM tot t JOIN num n USING (grp)
    ORDER BY t.grp
    """,
)
def wasserstein_drift_orders(spark, sf_dir):
    from ..operators.rank import global_prefix

    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    base = o.filter(yr.between(1995, 2000)).select(
        F.col("o_orderpriority").alias("grp0"),
        _units4("o_totalprice").alias("v"),
        F.when(yr.between(1995, 1997), 1).otherwise(0).alias("b1"),
        F.when(yr.between(1998, 2000), 1).otherwise(0).alias("b2"),
    )
    u = base.select(F.col("grp0").alias("grp"), "v", "b1", "b2").unionByName(
        base.select(F.lit("ALL").alias("grp"), "v", "b1", "b2")
    )
    u = materialize(u, "wasserstein_drift_orders.u")  # feeds the value-level table AND the totals
    vl = u.groupBy("grp", "v").agg(
        F.sum("b1").cast("long").alias("c1"), F.sum("b2").cast("long").alias("c2")
    )
    tot = u.groupBy("grp").agg(
        F.sum("b1").cast("long").alias("n1"),
        F.sum("b2").cast("long").alias("n2"),
        F.sum(F.col("b1") * F.col("v")).cast("long").alias("s1"),
        F.sum(F.col("b2") * F.col("v")).cast("long").alias("s2"),
    )
    # group-start offsets under the same (grp, v) total order the fused
    # prefix pass uses: a 6-row post-aggregation window, not a data one
    goff = tot.select(
        "grp",
        F.coalesce(
            F.sum("n1").over(
                Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("g1"),
        F.coalesce(
            F.sum("n2").over(
                Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("g2"),
    )
    gp = global_prefix(vl, [F.col("grp"), F.col("v")], ["c1", "c2"], rn_col="rn")
    gp = materialize(gp, "wasserstein_drift_orders.gp")  # both the adjacency join sides read it
    nxt = gp.select(
        F.col("grp").alias("g2nd"), (F.col("rn") - 1).alias("rn"),
        F.col("v").alias("v_next"),
    )
    adj = (
        gp.join(nxt, "rn")
        .filter(F.col("grp") == F.col("g2nd"))
        .join(F.broadcast(goff), "grp")
        .join(F.broadcast(tot.select("grp", "n1", "n2")), "grp")
    )
    diff = F.abs(
        (F.col("cum_c1") - F.col("g1")).cast("decimal(19,0)") * F.col("n2")
        - (F.col("cum_c2") - F.col("g2")).cast("decimal(19,0)") * F.col("n1")
    )
    num = adj.groupBy("grp").agg(
        F.sum(
            diff.cast("decimal(26,0)")
            * (F.col("v_next") - F.col("v")).cast("decimal(12,0)")
        ).alias("w1num")
    )
    return (
        tot.join(num, "grp")
        .select(
            "grp",
            F.col("n1").alias("n_base"),
            F.col("n2").alias("n_curr"),
            F.round(
                F.col("s1").cast("double") / (F.col("n1").cast("double") * 10000.0), 6
            ).alias("mean_base"),
            F.round(
                F.col("s2").cast("double") / (F.col("n2").cast("double") * 10000.0), 6
            ).alias("mean_curr"),
            F.round(
                F.col("w1num").cast("double")
                / ((F.col("n1") * F.col("n2")).cast("double") * 10000.0),
                6,
            ).alias("w1_price"),
        )
        .orderBy("grp")
    )


# Hill tail-index estimator — the standard heavy-tail exponent profile
# (is this column Pareto-ish, and how heavy?) that sizes skew-handling
# decisions: a small α̂ on a join key predicts stragglers long before a
# shuffle falls over.  Estimated at three k cutoffs so the stability
# of the estimate is part of the report.  Discipline: order statistics
# come from the two-phase global rank (descending, orderkey
# tie-break); each term is round(ln(x_i / x_(k+1)), 6) — one
# correctly-rounded division, ln only under round-6 on values — summed
# as int64 1e-6 units; α̂ = k·1e6/Σu is one final division.
@query(
    "hill_tail_index_orders",
    """
    WITH ranked AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x,
             row_number() OVER (ORDER BY CAST(o_totalprice AS DOUBLE) DESC,
                                o_orderkey) AS rn
      FROM orders
    ),
    th AS (
      SELECT rn - 1 AS k, x AS x_k1 FROM ranked WHERE rn IN (201, 501, 1001)
    ),
    terms AS (
      SELECT th.k, th.x_k1,
             SUM(CAST(CAST(round(ln(r.x / th.x_k1), 6) AS DECIMAL(18,6))
                      * 1000000 AS BIGINT)) AS sum_u,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM ranked r JOIN th ON r.rn <= th.k
      GROUP BY th.k, th.x_k1
    )
    SELECT k, x_k1 AS x_threshold, n_terms,
           round(CAST(sum_u AS DOUBLE) / (CAST(k AS DOUBLE) * 1000000.0), 6)
             AS mean_log_excess,
           round(CAST(k AS DOUBLE) * 1000000.0 / CAST(sum_u AS DOUBLE), 6)
             AS alpha_hill
    FROM terms ORDER BY k
    """,
)
def hill_tail_index_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("x"), F.col("o_orderkey")
    )
    ranked = global_row_number(
        o, [F.col("x").desc(), F.col("o_orderkey").asc()], out_col="rn"
    ).filter(F.col("rn") <= 1001)
    ranked = materialize(ranked, "hill_tail_index_orders.ranked")  # thresholds AND terms read it
    th = ranked.filter(F.col("rn").isin(201, 501, 1001)).select(
        (F.col("rn") - 1).alias("k"), F.col("x").alias("x_k1")
    )
    terms = (
        ranked.join(F.broadcast(th), F.col("rn") <= F.col("k"))
        .groupBy("k", "x_k1")
        .agg(
            F.sum(
                (
                    F.round(F.log(F.col("x") / F.col("x_k1")), 6)
                    .cast("decimal(18,6)")
                    * F.lit(1000000)
                ).cast("long")
            ).alias("sum_u"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    return terms.select(
        "k",
        F.col("x_k1").alias("x_threshold"),
        "n_terms",
        F.round(
            F.col("sum_u").cast("double") / (F.col("k").cast("double") * 1000000.0), 6
        ).alias("mean_log_excess"),
        F.round(
            F.col("k").cast("double") * 1000000.0 / F.col("sum_u").cast("double"), 6
        ).alias("alpha_hill"),
    ).orderBy("k")


# MRR / precision@10 / recall@10 — the binary-relevance hit-rate panel
# beside nDCG (graded) and rerank agreement (rank correlation): MRR is
# what autocomplete/lookup surfaces report, and recall@k needs the
# CORPUS-WIDE relevant count, not just the retrieved slice — one extra
# corpus scan against the broadcast anchor-token sets.  Relevance
# reuses nDCG's exact lexical-overlap grade (relevant ⇔ ≥4 shared
# distinct tokens, gain ≥ 1): every number here is a ratio of exact
# integers (1/rank, hits/10, hits/corpus-relevant — single
# correctly-rounded divisions under round-6).
@query(
    "mrr_retrieval_audit",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN (5, 42, 99)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS score
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS r
      FROM scored QUALIFY r <= 10
    ),
    qtok AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS t
      FROM documents WHERE doc_id IN (5, 42, 99)
    ),
    atok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS t
      FROM documents
    ),
    ov AS (
      SELECT qtok.query_id, atok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM atok JOIN qtok ON atok.t = qtok.t
      WHERE atok.doc_id <> qtok.query_id
      GROUP BY qtok.query_id, atok.doc_id
    ),
    corpus AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel_corpus
      FROM ov WHERE n_overlap >= 4 GROUP BY query_id
    ),
    hits AS (
      SELECT c.query_id,
             CAST(SUM(CASE WHEN o.n_overlap >= 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_10,
             MIN(CASE WHEN o.n_overlap >= 4 THEN c.r END) AS first_rel_rank
      FROM cand c LEFT JOIN ov o
        ON c.query_id = o.query_id AND c.doc_id = o.doc_id
      GROUP BY c.query_id
    )
    SELECT h.query_id, h.n_rel_10, h.first_rel_rank, co.n_rel_corpus,
           round(CASE WHEN h.first_rel_rank IS NULL THEN 0.0
                      ELSE 1.0 / CAST(h.first_rel_rank AS DOUBLE) END, 6)
             AS reciprocal_rank,
           round(CAST(h.n_rel_10 AS DOUBLE) / 10.0, 6) AS precision_at_10,
           round(CAST(h.n_rel_10 AS DOUBLE) / CAST(co.n_rel_corpus AS DOUBLE), 6)
             AS recall_at_10
    FROM hits h JOIN corpus co USING (query_id)
    ORDER BY h.query_id
    """,
)
def mrr_retrieval_audit(spark, sf_dir):
    from ..operators.similarity import cosine_topk

    anchors = [5, 42, 99]
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    cand = cosine_topk(e, anchors, k=10, dims=64).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("r")
    )
    qtok = (
        d.filter(F.col("doc_id").isin(anchors))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        .distinct()
    )
    atok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).distinct()
    ov = (
        atok.join(F.broadcast(qtok), "t")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    ov = materialize(ov, "mrr_retrieval_audit.ov")  # corpus recall AND the top-10 hit join read it
    corpus = ov.filter(F.col("n_overlap") >= 4).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel_corpus")
    )
    hits = (
        cand.join(ov, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("n_overlap") >= 4, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rel_10"),
            F.min(F.when(F.col("n_overlap") >= 4, F.col("r"))).alias(
                "first_rel_rank"
            ),
        )
    )
    return (
        hits.join(corpus, "query_id")
        .select(
            "query_id",
            "n_rel_10",
            "first_rel_rank",
            "n_rel_corpus",
            F.round(
                F.when(F.col("first_rel_rank").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel_rank").cast("double")
                ),
                6,
            ).alias("reciprocal_rank"),
            F.round(F.col("n_rel_10").cast("double") / 10.0, 6).alias(
                "precision_at_10"
            ),
            F.round(
                F.col("n_rel_10").cast("double")
                / F.col("n_rel_corpus").cast("double"),
                6,
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


# Exact Shapley valuation of data sources — "what is each source
# WORTH to the corpus?", the data-valuation question behind training
# mixture decisions, answered with the actual Shapley axioms instead
# of a leave-one-out heuristic.  The coalition value is distinct
# 3-shingle coverage — submodular, and computable for ALL 2^k
# coalitions in ONE corpus pass: per shingle, a k-bit source-group
# membership mask; cov(S) = Σ cnt[mask] over masks intersecting S.
# With k=5 source groups the mask table is ≤31 rows, coalitions 32 —
# everything after the corpus-scan reduction is broadcast-sized.
# Shapley_c = Σ_{S∌c} |S|!(k−1−|S|)!/k! · (cov(S∪c)−cov(S)); scaled
# by k!=120 every weight and marginal is an exact int64 — ZERO float
# ops before the two final display divisions.  Efficiency axiom
# (Σ shapley = cov(U)) is pinned by the unit test.
@query(
    "shapley_source_valuation_docs",
    """
    WITH tok AS (
      SELECT CAST(substr(source, 4) AS INT) % 5 AS g,
             string_split(lower(text), ' ') AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT substr(md5(s), 1, 15) AS h, g
      FROM (
        SELECT g,
               unnest(list_transform(range(1, len(words) - 1),
                                     i -> array_to_string(words[i:i+2], ' ')))
                 AS s
        FROM tok WHERE len(words) >= 3
      )
    ),
    m AS (
      SELECT h, CAST(SUM(1 << g) AS BIGINT) AS mask FROM sh GROUP BY h
    ),
    mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM m GROUP BY mask),
    subsets AS (SELECT CAST(range AS BIGINT) AS s FROM range(32)),
    cov AS (
      SELECT s.s, CAST(COALESCE(SUM(mc.cnt), 0) AS BIGINT) AS cov
      FROM subsets s LEFT JOIN mc ON (mc.mask & s.s) <> 0
      GROUP BY s.s
    ),
    ch AS (SELECT CAST(range AS BIGINT) AS c FROM range(5)),
    pairs AS (
      SELECT ch.c, cov0.s,
             CASE bit_count(cov0.s)
               WHEN 0 THEN 24 WHEN 1 THEN 6 WHEN 2 THEN 4 WHEN 3 THEN 6
               ELSE 24 END AS w,
             covc.cov - cov0.cov AS marg
      FROM ch
      JOIN cov cov0 ON (cov0.s & (1 << ch.c)) = 0
      JOIN cov covc ON covc.s = (cov0.s | (1 << ch.c))
    ),
    shap AS (
      SELECT c, CAST(SUM(w * marg) AS BIGINT) AS shap_u120
      FROM pairs GROUP BY c
    ),
    grand AS (SELECT cov AS total_cov FROM cov WHERE s = 31)
    SELECT 'g' || CAST(sh.c AS VARCHAR) AS source_group,
           solo.cov AS solo_coverage,
           g.total_cov - loo.cov AS marginal_to_grand,
           sh.shap_u120,
           round(CAST(sh.shap_u120 AS DOUBLE) / 120.0, 6) AS shapley_value,
           round(CAST(sh.shap_u120 AS DOUBLE)
                 / (120.0 * CAST(g.total_cov AS DOUBLE)), 6) AS shapley_share
    FROM shap sh
    JOIN cov solo ON solo.s = (1 << sh.c)
    JOIN cov loo ON loo.s = (31 - (1 << sh.c))
    CROSS JOIN grand g
    ORDER BY source_group
    """,
)
def shapley_source_valuation_docs(spark, sf_dir):
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    wo = W.partitionBy("doc_id").orderBy("pos")
    sh = (
        d.select(
            "doc_id",
            (F.expr("CAST(substr(source, 4) AS INT)") % 5).alias("g"),
            F.posexplode(words).alias("pos", "w1"),
        )
        .select(
            "doc_id", "g", "w1",
            F.lead("w1", 1).over(wo).alias("w2"),
            F.lead("w1", 2).over(wo).alias("w3"),
        )
        .filter(F.col("w3").isNotNull())
        .select(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("w1"), F.lit(" "), F.col("w2"), F.lit(" "),
                        F.col("w3"),
                    )
                ),
                1, 15,
            ).alias("h"),
            "g",
        )
        .distinct()
    )
    m = (
        sh.select("h", F.expr("shiftleft(1, g)").alias("bit"))
        .distinct()
        .groupBy("h")
        .agg(F.sum("bit").cast("long").alias("mask"))
    )
    mc = m.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    spark_ = d.sparkSession
    subsets = spark_.range(32).select(F.col("id").alias("s"))
    cov = (
        F.broadcast(subsets)
        .join(mc, F.expr("(mask & s) <> 0"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("cov"))
    )
    # 32 rows; read by pairs, solo, loo, grand
    cov = materialize(cov, "shapley_source_valuation_docs.cov")
    ch = spark_.range(5).select(F.col("id").alias("c"))
    pairs = (
        F.broadcast(ch)
        .join(cov.alias("cov0"), F.expr("(cov0.s & shiftleft(1, c)) = 0"))
        .select("c", F.col("cov0.s").alias("s0"), F.col("cov0.cov").alias("cov_s"))
        .join(
            cov.alias("covc"),
            F.expr("covc.s = (s0 | shiftleft(1, c))"),
        )
        .select(
            "c",
            F.element_at(
                F.array(F.lit(24), F.lit(6), F.lit(4), F.lit(6), F.lit(24)),
                F.bit_count(F.col("s0")).cast("int") + 1,
            ).alias("w"),
            (F.col("covc.cov") - F.col("cov_s")).alias("marg"),
        )
    )
    shap = pairs.groupBy("c").agg(
        F.sum(F.col("w") * F.col("marg")).cast("long").alias("shap_u120")
    )
    solo = cov.select(F.col("s").alias("solo_s"), F.col("cov").alias("solo_coverage"))
    loo = cov.select(F.col("s").alias("loo_s"), F.col("cov").alias("loo_cov"))
    grand = cov.filter(F.col("s") == 31).select(F.col("cov").alias("total_cov"))
    return (
        shap.join(F.broadcast(solo), F.expr("solo_s = shiftleft(1, c)"))
        .join(F.broadcast(loo), F.expr("loo_s = (31 - shiftleft(1, c))"))
        .crossJoin(F.broadcast(grand))
        .select(
            F.concat(F.lit("g"), F.col("c").cast("string")).alias("source_group"),
            "solo_coverage",
            (F.col("total_cov") - F.col("loo_cov")).alias("marginal_to_grand"),
            "shap_u120",
            F.round(F.col("shap_u120").cast("double") / 120.0, 6).alias(
                "shapley_value"
            ),
            F.round(
                F.col("shap_u120").cast("double")
                / (120.0 * F.col("total_cov").cast("double")),
                6,
            ).alias("shapley_share"),
        )
        .orderBy("source_group")
    )
