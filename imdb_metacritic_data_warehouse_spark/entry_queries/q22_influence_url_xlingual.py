"""Round-10 wave 38 — model-in-the-loop data ops (verdict r9 task #6):
influence-style per-sample selection (gradient-proxy ranking of the
docs most worth reviewing/keeping under a labeling budget), URL/domain
-level dedup + canonicalization audit (the web-corpus step no prior op
covered), and cross-lingual near-dup detection (langid × exact
set-similarity over the fixture's translated clones).
"""

from __future__ import annotations

from ._registry import F, _t, materialize, query
from .q01_warehouse import _H, _LANG_CASE, _lang_hits_sql
from .q03_dedup_lsh import _QUALITY_SQL

# sorted(STOPWORDS) language order for the per-doc hit columns the
# langid CASE expression reads
_LANGS = sorted(_H)


# Influence-style selection (the gradient-proxy family: TracIn / LESS
# reduced to the logistic case): for a logistic quality model the
# per-sample gradient magnitude is |y − p|·‖x‖ — residual times
# feature scale.  With y = the cheap rule label (Gopher-lite length
# battery), p = the deployed quality score, and token count as the
# mass term, the top-|influence| docs per source are exactly the
# samples where model and rules disagree most per token — the ones a
# labeling budget should go to first (and the ones whose inclusion
# moves a retrained filter most).  Everything is exact integer
# arithmetic: p quantizes once to 1e-6 units (both engines round the
# same 6-dp double), |y·10⁶ − p_units|·ntok stays int64, ranking is
# integer with doc_id tiebreak.  Shape: one corpus scan, one
# source-partitioned top-k window — no joins, no floats compared.
@query(
    "influence_selection_docs",
    f"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
             CAST(round(({_QUALITY_SQL}) * 1000000, 0) AS BIGINT) AS quality_units
      FROM documents
    ),
    lab AS (
      SELECT doc_id, source, nt, quality_units,
             CASE WHEN nt BETWEEN 40 AND 250 THEN 1 ELSE 0 END AS rule_label
      FROM s
    ),
    g AS (
      SELECT doc_id, source, quality_units, rule_label,
             abs(rule_label * 1000000 - quality_units) * nt AS influence_units
      FROM lab
    ),
    r AS (
      SELECT *, row_number() OVER (
               ORDER BY influence_units DESC, doc_id) AS rk_all,
             row_number() OVER (PARTITION BY source
               ORDER BY influence_units DESC, doc_id) AS rk
      FROM g
    )
    SELECT source, doc_id, CAST(rule_label AS INTEGER) AS rule_label,
           quality_units, CAST(influence_units AS BIGINT) AS influence_units,
           CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 20 ORDER BY source, rk
    """,
)
def influence_selection_docs(spark, sf_dir):
    from ..operators.text import quality_score, token_count_ws

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count_ws(F.col("text")).cast("long").alias("nt"),
        F.round(quality_score(F.col("text")) * F.lit(1000000), 0)
        .cast("long")
        .alias("quality_units"),
    )
    g = d.select(
        "doc_id",
        "source",
        "quality_units",
        F.when(F.col("nt").between(40, 250), 1).otherwise(0).alias("rule_label"),
        (
            F.abs(
                F.when(F.col("nt").between(40, 250), F.lit(1000000)).otherwise(
                    F.lit(0)
                )
                - F.col("quality_units")
            )
            * F.col("nt")
        ).alias("influence_units"),
    )
    # Two-phase per-source top-k via operators.rank.grouped_topk (r10
    # 64× probe: the plain source-partitioned window read 15.4× — each
    # source partition is corpus/|sources| rows and the WindowExec
    # sorts all of them).  posexplode of the sorted per-group array is
    # the rank — no window at all.
    from ..operators.rank import grouped_topk

    rec = F.struct(
        (-F.col("influence_units")).alias("k1"),
        F.col("doc_id").alias("k2"),
        F.col("rule_label").alias("rule_label"),
        F.col("quality_units").alias("quality_units"),
        F.col("influence_units").alias("influence_units"),
    )
    top = grouped_topk(g, ["source"], rec, 20)
    return (
        top.select("source", F.posexplode("__top").alias("pos", "t"))
        .select(
            "source",
            F.col("t.k2").alias("doc_id"),
            F.col("t.rule_label").cast("int").alias("rule_label"),
            F.col("t.quality_units").alias("quality_units"),
            F.col("t.influence_units").cast("bigint").alias("influence_units"),
            (F.col("pos") + 1).cast("int").alias("rk"),
        )
        .orderBy("source", "rk")
    )


# URL/domain-level dedup + canonicalization audit — the web-corpus
# curation step none of the text-level dedup ops cover: pages arrive
# under host variants (www. / m. / bare) and tracking query params,
# and corpus policy acts at the REGISTRABLE DOMAIN (crawl quotas,
# blocklists, per-domain dup pressure).  The documents fixture has no
# URL column, so one is synthesized DETERMINISTICALLY from
# (doc_id, source) — identically on both engines, so the oracle
# checks the real operator chain: host/path extraction →
# canonicalization (strip mobile/www subdomain + query string) →
# eTLD+1 extraction → per-domain rollup of url/host/canonical
# cardinalities, exact-text dup mass, and a blocklist join.
# Shape: map-only regexps (codegen) + ONE hash shuffle on the domain;
# the blocklist is a literal IN (a broadcast join for a real list).
# Per-domain skew is absorbed by partial aggregation — counts and
# distinct-counts only.
@query(
    "url_domain_dedup_docs",
    """
    WITH u AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f,
             concat('https://',
               CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'www.'
                    WHEN 1 THEN 'm.' ELSE '' END,
               source,
               CASE CAST(doc_id % 2 AS INTEGER) WHEN 0 THEN '.com'
                    ELSE '.org' END,
               '/page/', CAST(doc_id % 250 AS VARCHAR),
               CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed'
                    ELSE '' END) AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id, f,
             regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path
      FROM u
    ),
    canon AS (
      SELECT doc_id, f, host,
             regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS dom,
             concat(regexp_replace(host, '^(www|m)\\.', ''), path) AS curl
      FROM parsed
    )
    SELECT dom AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(COUNT(*) - COUNT(DISTINCT f) AS BIGINT) AS dup_docs,
           CAST(CASE WHEN dom IN ('src0.com', 'src7.org', 'src13.com',
                                  'src19.org')
                THEN 1 ELSE 0 END AS INTEGER) AS blocked
    FROM canon GROUP BY dom ORDER BY dom
    """,
)
def url_domain_dedup_docs(spark, sf_dir):
    from ..functions.parsing import (
        canonical_url,
        registrable_domain,
        url_host,
    )
    from ..operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("f"),
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
            .when(F.col("doc_id") % 3 == 1, F.lit("m."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
                F.lit(".org")
            ),
            F.lit("/page/"),
            (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    c = u.select(
        "doc_id",
        "f",
        url_host(F.col("url")).alias("host"),
        registrable_domain(F.col("url")).alias("dom"),
        canonical_url(F.col("url")).alias("curl"),
    )
    blocklist = ["src0.com", "src7.org", "src13.com", "src19.org"]
    return (
        c.groupBy(F.col("dom").alias("domain"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
            F.countDistinct("curl").cast("bigint").alias("n_canonical"),
            (F.count(F.lit(1)) - F.countDistinct("f"))
            .cast("bigint")
            .alias("dup_docs"),
        )
        .withColumn(
            "blocked",
            F.col("domain").isin(blocklist).cast("int"),
        )
        .orderBy("domain")
    )


# Cross-lingual near-dup detection — translated clones share most of
# their word-shingle mass on this fixture (real pipelines first map
# both sides through a shared embedding or a pivot normalization; the
# DETECTION plumbing is identical).  Composition of two existing
# primitives: the EXACT prefix-filtered set-similarity self-join
# (operators/dedup.prefix_filter_jaccard_pairs — no false negatives)
# restricted to pairs whose LABELED languages differ, annotated with
# the stopword-langid PREDICTION for both sides.  pred_match then
# separates true translation pairs (predictions differ with the
# labels) from mislabeled same-language clones (predictions agree —
# the label, not the text, is wrong): exactly the audit a multilingual
# corpus runs before per-language dedup would miss cross-language
# leakage.  collapse_exact stays OFF here because representative
# collapse keys on content alone and would erase the lang attribution
# this op exists to check (production guidance: collapse within
# (fingerprint, lang) first; the fixture's cross-lang exact clones —
# 7 pairs at sf0.1 — must survive).  Scale: the prefix-filter join is
# the established path (rare-shingle keyed); the lang/pred
# annotations join doc-keyed — uniform.
@query(
    "crosslingual_neardup_docs",
    f"""
    WITH tokw AS (
      SELECT doc_id, lang, text, string_split(lower(text), ' ') AS words
      FROM documents
    ),
    hits AS (
      SELECT doc_id,
             {", ".join(f"{_lang_hits_sql(lang)} AS {_H[lang]}" for lang in _LANGS)}
      FROM tokw
    ),
    pred AS (SELECT doc_id, {_LANG_CASE} AS pred FROM hits),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tokw
    ),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS toks
      FROM sh
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) AS sa, len(b.toks) AS sb
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
             CAST(sa + sb - inter AS BIGINT) AS uni
      FROM p WHERE 100 * inter >= 60 * (sa + sb - inter)
    )
    SELECT pr.doc_a, pr.doc_b, la.lang AS lang_a, lb.lang AS lang_b,
           pa.pred AS pred_a, pb.pred AS pred_b,
           CAST(CASE WHEN pa.pred = pb.pred THEN 1 ELSE 0 END AS INTEGER)
             AS pred_match,
           pr.inter, pr.uni,
           round(CAST(pr.inter AS DOUBLE) / pr.uni, 6) AS jaccard
    FROM pairs pr
    JOIN documents la ON la.doc_id = pr.doc_a
    JOIN documents lb ON lb.doc_id = pr.doc_b
    JOIN pred pa ON pa.doc_id = pr.doc_a
    JOIN pred pb ON pb.doc_id = pr.doc_b
    WHERE la.lang <> lb.lang
    ORDER BY doc_a, doc_b
    """,
)
def crosslingual_neardup_docs(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs
    from ..operators.text import language_id

    d = _t(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(d, "doc_id", "text")
    # The annotation joins are INNER, so only docs that appear in a
    # pair ever need a prediction — language_id (~32 array_remove
    # passes per doc) previously ran over the WHOLE corpus, here it
    # runs over the pair participants only (r10; the guide §8 "decide
    # with small rows" move).  pairs is checkpointed once (it feeds
    # the id set AND the final join), the participant set semi-joins
    # the corpus scan, and the tiny annotated table broadcasts into
    # both pair sides.  Inner-join semantics make the restriction
    # provably lossless.
    pairs = materialize(pairs, "crosslingual_neardup_docs.pairs")
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # SIZE CONTRACT (ADVICE r10): ids and ann are bounded by 2·|pairs|
    # rows — the operator's own output, not the corpus.  A near-dup
    # pair list large enough to break the 8 GB broadcast cap would mean
    # the corpus needs the collapsed path anyway; the at-scale fallback
    # is dropping the hint (AQE then picks the shuffle join).
    ann = d.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", "lang", language_id(F.col("text")).alias("pred")
    )
    ann = materialize(ann, "crosslingual_neardup_docs.ann")
    a = ann.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("pred").alias("pred_a"),
    )
    b = ann.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("pred").alias("pred_b"),
    )
    return (
        pairs.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select(
            "doc_a",
            "doc_b",
            "lang_a",
            "lang_b",
            "pred_a",
            "pred_b",
            (F.col("pred_a") == F.col("pred_b")).cast("int").alias("pred_match"),
            F.col("inter").cast("bigint").alias("inter"),
            F.col("uni").cast("bigint").alias("uni"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


# The PRODUCTION twin of crosslingual_neardup_docs: exact duplicates
# collapse to one representative per (content fingerprint, lang)
# BEFORE the pair join — the Σ|clone-family|² law (SCALE.md): m
# copies of a translated clone pair are m·m true pairs, so the
# uncollapsed join's output explodes quadratically on a
# duplicate-heavy corpus while this path folds replicas back to the
# 1× problem in one fingerprint aggregate and reports multiplicities
# for exact re-expansion (pair_mult = mult_a · mult_b).  Collapse
# keys on (fingerprint, lang) — not fingerprint alone — so
# cross-language exact clones survive as distinct representatives
# (the attribution crosslingual detection exists for).
@query(
    "crosslingual_neardup_collapsed",
    """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, lang, min(text) AS text,
             CAST(COUNT(*) AS BIGINT) AS mult
      FROM (SELECT doc_id, lang, text,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
            FROM documents)
      GROUP BY f, lang
    ),
    tokw AS (
      SELECT doc_id, lang, mult, string_split(lower(text), ' ') AS words
      FROM reps
    ),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tokw
    ),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS toks
      FROM sh
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) AS sa, len(b.toks) AS sb
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
             CAST(sa + sb - inter AS BIGINT) AS uni
      FROM p WHERE 100 * inter >= 60 * (sa + sb - inter)
    )
    SELECT pr.doc_a, pr.doc_b, ra.lang AS lang_a, rb.lang AS lang_b,
           ra.mult AS mult_a, rb.mult AS mult_b,
           CAST(ra.mult * rb.mult AS BIGINT) AS pair_mult,
           pr.inter, pr.uni,
           round(CAST(pr.inter AS DOUBLE) / pr.uni, 6) AS jaccard
    FROM pairs pr
    JOIN reps ra ON ra.doc_id = pr.doc_a
    JOIN reps rb ON rb.doc_id = pr.doc_b
    WHERE ra.lang <> rb.lang
    ORDER BY doc_a, doc_b
    """,
)
def crosslingual_neardup_collapsed(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs
    from ..operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    reps = (
        d.select("doc_id", "lang", "text", fingerprint(F.col("text")).alias("f"))
        .groupBy("f", "lang")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("text").alias("text"),
            F.count(F.lit(1)).cast("bigint").alias("mult"),
        )
        .select("doc_id", "lang", "text", "mult")
    )
    # The collapse aggregate shuffles the full corpus TEXT; it feeds
    # the pair join AND both annotation branches, and unmaterialized it
    # re-executed three times (r10).  Checkpoint once.
    reps = materialize(reps, "crosslingual_neardup_collapsed.reps")
    pairs = prefix_filter_jaccard_pairs(reps, "doc_id", "text")
    # SIZE CONTRACT for the annotation broadcasts (ADVICE r10): the
    # joins below are INNER, so only representatives that appear in a
    # pair ever contribute — semi-join the rep table down to the pair
    # participants first (provably lossless), and the broadcast sides
    # are then bounded by 2·|pairs| rows of (id, lang, mult), the
    # operator's own output size, NOT the data-sized rep table.  pairs
    # is checkpointed so the participant probe doesn't re-run the pair
    # join; at-scale fallback if |pairs| ever outgrew the broadcast cap
    # is dropping the hint (AQE picks the shuffle join).
    pairs = materialize(pairs, "crosslingual_neardup_collapsed.pairs")
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    part = reps.join(F.broadcast(ids), "doc_id", "left_semi")
    a = part.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("mult").alias("mult_a"),
    )
    b = part.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("mult").alias("mult_b"),
    )
    return (
        pairs.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select(
            "doc_a",
            "doc_b",
            "lang_a",
            "lang_b",
            "mult_a",
            "mult_b",
            (F.col("mult_a") * F.col("mult_b")).cast("bigint").alias("pair_mult"),
            F.col("inter").cast("bigint").alias("inter"),
            F.col("uni").cast("bigint").alias("uni"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )
