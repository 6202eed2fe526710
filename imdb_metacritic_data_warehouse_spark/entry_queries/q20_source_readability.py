"""Round-9 wave 36 — source-provenance and readability curation ops:
the cross-source duplication matrix (which sources copy from which —
the provenance question behind licensing and dedup-priority
decisions) and a Flesch-style readability audit (the classic
document-difficulty score, a standard quality-mix signal beside the
Gopher battery).
"""

from __future__ import annotations

from ._registry import F, _t, query
from ..operators.text import token_count_ws, tokens


# Cross-source duplication matrix — for every (source_a < source_b)
# pair, how many duplicate-content GROUPS span both sources, and how
# many documents those groups hold in each.  Two keys per document:
# the exact whole-text fingerprint (verbatim copies) and the
# 8-word-PREFIX fingerprint (shared boilerplate openings — the
# template/syndication signal that survives tail edits; this corpus
# has zero verbatim cross-source copies below sf0.1 but 24+ shared
# openings at every SF, so the prefix key is what makes the matrix
# informative).  The corpus reduces to one fingerprint aggregate per
# key (the dedup_exact shape); the matrix is a source×source join over
# per-(key, source) rows — bounded by the 20-source dimension, never a
# doc×doc join.  At 100 TB the shape is unchanged: one hash shuffle on
# the fingerprint, dimension-sized everything after.  All-integer
# output -> exact parity.
@query(
    "source_overlap_matrix_docs",
    """
    WITH fp AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fx,
             md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS fpre
      FROM documents
    ),
    per_pre AS (
      SELECT fpre, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM fp GROUP BY fpre, source
    ),
    per_x AS (
      SELECT fx, source FROM fp GROUP BY fx, source
    ),
    prep AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n_docs AS na, b.n_docs AS nb
      FROM per_pre a JOIN per_pre b
        ON a.fpre = b.fpre AND a.source < b.source
    ),
    xp AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS exact_groups
      FROM per_x a JOIN per_x b
        ON a.fx = b.fx AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(COUNT(*) AS BIGINT) AS prefix_groups,
           CAST(COALESCE(MAX(x.exact_groups), 0) AS BIGINT) AS exact_groups,
           CAST(SUM(p.na) AS BIGINT) AS docs_a,
           CAST(SUM(p.nb) AS BIGINT) AS docs_b
    FROM prep p
    LEFT JOIN xp x ON x.source_a = p.source_a AND x.source_b = p.source_b
    GROUP BY p.source_a, p.source_b
    ORDER BY prefix_groups DESC, p.source_a, p.source_b
    LIMIT 50
    """,
)
def source_overlap_matrix_docs(spark, sf_dir):
    from ..operators.text import fingerprint

    d = _t(spark, sf_dir, "documents").select(
        "source",
        fingerprint(F.col("text")).alias("fx"),
        F.md5(F.array_join(F.slice(tokens(F.col("text")), 1, 8), " ")).alias(
            "fpre"
        ),
    )
    per_pre = d.groupBy("fpre", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    pa = per_pre.select(
        "fpre", F.col("source").alias("source_a"), F.col("n_docs").alias("na")
    )
    pb = per_pre.select(
        "fpre", F.col("source").alias("source_b"), F.col("n_docs").alias("nb")
    )
    prep = pa.join(pb, "fpre").filter(F.col("source_a") < F.col("source_b"))
    per_x = d.select("fx", "source").distinct()
    xa = per_x.select("fx", F.col("source").alias("source_a"))
    xb = per_x.select("fx", F.col("source").alias("source_b"))
    xp = (
        xa.join(xb, "fx")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_groups"))
    )
    return (
        prep.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("prefix_groups"),
            F.sum("na").cast("bigint").alias("docs_a"),
            F.sum("nb").cast("bigint").alias("docs_b"),
        )
        .join(F.broadcast(xp), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "prefix_groups",
            F.coalesce("exact_groups", F.lit(0)).cast("bigint").alias(
                "exact_groups"
            ),
            "docs_a",
            "docs_b",
        )
        .orderBy(F.desc("prefix_groups"), "source_a", "source_b")
        .limit(50)
    )


# Flesch-style readability audit — reading-ease from sentence and
# "syllable" structure.  The syllable count is the standard cheap
# proxy (runs of vowels per word, the heuristic every readability
# implementation uses); sentences are terminal-punctuation runs with
# a floor of 1.  Score = 206.835 − 1.015·(words/sentences) −
# 84.6·(syllables/words), reported per source with the corpus-wide
# decile cut of each doc's score.  Parity discipline: words,
# sentences, and vowel-run counts are exact integers from the SAME
# regexp on both engines; each doc's score is literal arithmetic over
# two correctly-rounded divisions of identical ints -> identical
# doubles; per-source aggregation keeps integer sums and divides ONCE
# (round-6).  One scan, one dimension-sized rollup — nothing else.
@query(
    "flesch_readability_docs",
    """
    WITH feats AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS s,
             CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                  AS BIGINT) AS syl
      FROM documents WHERE length(text) > 0
    ),
    scored AS (
      SELECT doc_id, source, w, s, syl,
             206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                     - 84.6 * (CAST(syl AS DOUBLE) / w) AS score
      FROM feats WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS sentences,
           CAST(SUM(syl) AS BIGINT) AS syllables,
           round(206.835 - 1.015 * (CAST(SUM(w) AS DOUBLE) / SUM(s))
                         - 84.6 * (CAST(SUM(syl) AS DOUBLE) / SUM(w)), 6)
             AS pooled_score,
           CAST(SUM(CASE WHEN score < 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           CAST(SUM(CASE WHEN score >= 70 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy
    FROM scored
    GROUP BY source ORDER BY source
    """,
)
def flesch_readability_docs(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            "source",
            token_count_ws(F.col("text")).cast("long").alias("w"),
            F.greatest(
                F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
            ).cast("long").alias("s"),
            F.greatest(
                F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
                F.lit(1),
            ).cast("long").alias("syl"),
        )
        .filter(F.col("w") > 0)
    )
    scored = d.withColumn(
        "score",
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
        - F.lit(84.6) * (F.col("syl").cast("double") / F.col("w")),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("words"),
            F.sum("s").cast("bigint").alias("sentences"),
            F.sum("syl").cast("bigint").alias("syllables"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.sum("w").cast("double") / F.sum("s"))
                - F.lit(84.6)
                * (F.sum("syl").cast("double") / F.sum("w")),
                6,
            ).alias("pooled_score"),
            F.sum(F.when(F.col("score") < 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hard"),
            F.sum(F.when(F.col("score") >= 70, 1).otherwise(0))
            .cast("bigint")
            .alias("n_easy"),
        )
        .orderBy("source")
    )
