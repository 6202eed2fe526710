"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import F, _events, _t, _units4, global_row_number, materialize, query
from .q01_warehouse import (
    _MINHASH_CORPUS_SQL,
    _MINHASH_SIG_SQL,
    _minhash_corpus,
    cosine_topk,
    lsh_candidate_pairs,
)
from .q02_pipeline_parity import Window, asof_join
from .q03_dedup_lsh import _QUALITY_SQL, connected_components
from .q04_retrieval_text import _copurchase_pairs



# ---------------------------------------------------------------------------
# Wave 15 — quality gating, boilerplate removal, split hygiene, CDC.

# Gopher-style rule-battery quality filter (Rae et al. 2021 §A1.1
# shapes, thresholds tuned to this corpus): five deterministic rules
# per document, reported per source with per-rule failure counts — the
# auditable "why was this dropped" report a curation pipeline ships
# alongside the filtered corpus.  Every rule is an INTEGER inequality
# (3·nw ≤ sumlen, 8·max_freq ≤ nw, 5·n_distinct ≥ 2·nw, …) so the
# pass/fail SET is engine-portable — no float threshold can split.
# Scale shape: one token explode → (doc, word) count → per-doc rollup
# (both aggregates partial/map-side combinable), then a source-grain
# rollup over doc-sized rows.  Zero joins, zero windows.
@query(
    "gopher_quality_filter_docs",
    """
    WITH t AS (
      SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    c AS (SELECT doc_id, source, w, COUNT(*) AS cnt FROM t GROUP BY 1, 2, 3),
    d AS (
      SELECT doc_id, source,
             CAST(SUM(cnt) AS BIGINT) AS nw,
             CAST(SUM(cnt * length(w)) AS BIGINT) AS sumlen,
             CAST(MAX(cnt) AS BIGINT) AS mx,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN w IN ('the','a','of','to','and','in')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nstop
      FROM c GROUP BY 1, 2
    ),
    r AS (
      SELECT source,
             CASE WHEN nw < 25 OR nw > 100000 THEN 1 ELSE 0 END AS f_words,
             CASE WHEN 3 * nw > sumlen OR sumlen > 5 * nw THEN 1 ELSE 0 END AS f_meanlen,
             CASE WHEN 8 * mx > nw THEN 1 ELSE 0 END AS f_maxshare,
             CASE WHEN 5 * nd < 2 * nw THEN 1 ELSE 0 END AS f_distinct,
             CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS f_stopword
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f_words + f_meanlen + f_maxshare + f_distinct
                              + f_stopword = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(f_words) AS BIGINT) AS fail_words,
           CAST(SUM(f_meanlen) AS BIGINT) AS fail_meanlen,
           CAST(SUM(f_maxshare) AS BIGINT) AS fail_maxshare,
           CAST(SUM(f_distinct) AS BIGINT) AS fail_distinct,
           CAST(SUM(f_stopword) AS BIGINT) AS fail_stopword,
           round(CAST(SUM(CASE WHEN f_words + f_meanlen + f_maxshare + f_distinct
                                    + f_stopword = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pass_rate
    FROM r GROUP BY source ORDER BY source
    """,
)
def gopher_quality_filter_docs(spark, sf_dir):
    d = _gopher_per_doc(spark, sf_dir)
    f_words = F.when((F.col("nw") < 25) | (F.col("nw") > 100000), 1).otherwise(0)
    f_meanlen = F.when(
        (3 * F.col("nw") > F.col("sumlen")) | (F.col("sumlen") > 5 * F.col("nw")), 1
    ).otherwise(0)
    f_maxshare = F.when(8 * F.col("mx") > F.col("nw"), 1).otherwise(0)
    f_distinct = F.when(5 * F.col("nd") < 2 * F.col("nw"), 1).otherwise(0)
    f_stopword = F.when(F.col("nstop") < 2, 1).otherwise(0)
    r = d.select(
        "source",
        f_words.alias("f_words"),
        f_meanlen.alias("f_meanlen"),
        f_maxshare.alias("f_maxshare"),
        f_distinct.alias("f_distinct"),
        f_stopword.alias("f_stopword"),
    )
    all_pass = F.when(
        F.col("f_words") + F.col("f_meanlen") + F.col("f_maxshare")
        + F.col("f_distinct") + F.col("f_stopword") == 0,
        1,
    ).otherwise(0)
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(all_pass).cast("bigint").alias("n_pass"),
            F.sum("f_words").cast("bigint").alias("fail_words"),
            F.sum("f_meanlen").cast("bigint").alias("fail_meanlen"),
            F.sum("f_maxshare").cast("bigint").alias("fail_maxshare"),
            F.sum("f_distinct").cast("bigint").alias("fail_distinct"),
            F.sum("f_stopword").cast("bigint").alias("fail_stopword"),
            F.round(
                F.sum(all_pass).cast("double") / F.count(F.lit(1)), 6
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


def _gopher_per_doc(spark, sf_dir):
    """Per-document word statistics shared by the Gopher rule battery
    and the labeler-agreement audit: ONE token explode → one (doc,
    word) count → one per-doc rollup.  nstop counts DISTINCT stopwords
    present (each word is one group, so the indicator sums once per
    distinct word)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    )
    c = tok.groupBy("doc_id", "source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("bigint").alias("nw"),
        F.sum(F.col("cnt") * F.length("w")).cast("bigint").alias("sumlen"),
        F.max("cnt").cast("bigint").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(
            F.when(F.col("w").isin("the", "a", "of", "to", "and", "in"), 1).otherwise(0)
        ).cast("bigint").alias("nstop"),
    )


# Cohen's kappa between two heuristic quality labelers — the
# inter-annotator-agreement number a labeling pipeline reports before
# trusting cheap heuristic labels as training signal.  Labeler A keys
# on length (nw ≥ 56, the corpus median), labeler B on lexical
# diversity (5·nd ≥ 2·nw); the 2×2 confusion counts are exact
# integers, and po/pe/kappa are computed with the IDENTICAL double
# expression shape on both engines (exact ints → same divisions →
# bit-identical doubles under round-6).
@query(
    "kappa_quality_labelers_docs",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    c AS (SELECT doc_id, w, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    d AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nw, CAST(COUNT(*) AS BIGINT) AS nd
      FROM c GROUP BY 1
    ),
    lab AS (
      SELECT CASE WHEN nw >= 56 THEN 1 ELSE 0 END AS a,
             CASE WHEN 5 * nd >= 2 * nw THEN 1 ELSE 0 END AS b
      FROM d
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
           round((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                  + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n, 6) AS pe,
           round((CAST(n11 + n00 AS DOUBLE) / n
                  - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n)
                 / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                         + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n),
                 6) AS kappa
    FROM m
    """,
)
def kappa_quality_labelers_docs(spark, sf_dir):
    d = _gopher_per_doc(spark, sf_dir)
    lab = d.select(
        F.when(F.col("nw") >= 56, 1).otherwise(0).alias("a"),
        F.when(5 * F.col("nd") >= 2 * F.col("nw"), 1).otherwise(0).alias("b"),
    )
    m = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double") * (F.col("n10") + F.col("n00"))
    ) / F.col("n") / F.col("n")
    return m.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1) - pe), 6).alias("kappa"),
    )


# Cross-document boilerplate REMOVAL — the end product whose detector
# is duplicate_chunk_spans above (C4 §2.2 / RefinedWeb-style: a span
# repeated across documents is template boilerplate, not content).
# Chunks are NON-overlapping 16-word windows (stride = size) so removal
# is well-defined; a chunk is boilerplate iff its fingerprint occurs in
# ≥2 DISTINCT documents; each doc is reassembled from its kept chunks
# in order and fingerprinted.  Scale shape: one zero-shuffle chunk
# explode, one fingerprint aggregate, one hash join back on fp (the
# dup set is corpus-dependent — never assumed broadcastable), one
# per-doc rollup whose collect_list is bounded by document length.
@query(
    "boilerplate_chunk_removal_docs",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    counted AS (
      SELECT doc_id, words,
             CAST(ceil(greatest(len(words) - 16, 0) / 16.0) AS INTEGER) + 1 AS n_chunks
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, g.c AS chunk_id,
             array_to_string(words[g.c * 16 + 1 : g.c * 16 + 16], ' ') AS chunk_text,
             len(words[g.c * 16 + 1 : g.c * 16 + 16]) AS n_words
      FROM counted, LATERAL (
        SELECT unnest(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS c
      ) g
    ),
    dup AS (
      SELECT md5(chunk_text) AS fp FROM chunks
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT c.doc_id, c.chunk_id, c.chunk_text, c.n_words,
             CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM chunks c LEFT JOIN dup d ON md5(c.chunk_text) = d.fp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(is_dup) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN is_dup = 0 THEN n_words ELSE 0 END) AS BIGINT)
             AS kept_words,
           md5(coalesce(string_agg(CASE WHEN is_dup = 0 THEN chunk_text END, ' '
                                   ORDER BY chunk_id), '')) AS kept_md5
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def boilerplate_chunk_removal_docs(spark, sf_dir):
    from ..operators.text import chunk_documents

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=16, stride=16
    ).withColumn("fp", F.md5(F.col("chunk_text")))
    dup = (
        chunks.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("fp", F.lit(1).alias("__dup"))
    )
    flagged = chunks.join(dup, "fp", "left").select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        "n_words",
        F.when(F.col("__dup").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )
    kept_structs = F.when(
        F.col("is_dup") == 0, F.struct("chunk_id", "chunk_text")
    )  # null (skipped by collect_list) for removed chunks
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("is_dup").cast("bigint").alias("n_removed"),
            F.sum(F.when(F.col("is_dup") == 0, F.col("n_words")).otherwise(0))
            .cast("bigint")
            .alias("kept_words"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_structs)),
                        lambda x: x.chunk_text,
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# Embedding-space ISOTROPY audit — the collapse detector run before
# trusting an embedding column for dedup/retrieval (anisotropic or
# collapsed spaces make cosine thresholds meaningless; Ethayarajh 2019).
# All three statistics derive from EXACT integer sums on the shared
# quantization grid q(x) = floor(x·10⁴ + 0.5) (coarser than the
# covariance query's 10⁷ so squared Gram cells stay inside
# decimal(38,0) headroom at any plausible corpus size):
#   trace_mean = tr(S)/(n·s²)           — mean squared component energy
#   mean_norm2 = Σᵢ(Σᵣ qᵣᵢ)²/(n²·s²·d⁰) — squared norm of the mean vector
#   participation_ratio = tr(S)²/‖S‖²_F — effective dimensionality
#     (d for perfectly isotropic, →1 for rank-collapse); scale factors
#     cancel so PR is grid-exact.
# Scale shape: one corpus pass builds the d²-sized integer Gram
# (mapInPandas block matmuls, order-free by construction) + one
# d-sized component-sum aggregate; everything after is d²-sized.
@query(
    "embedding_isotropy_audit",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    grid AS (
      SELECT d1.i AS i, d2.j AS j,
             SUM(CAST(floor(v[d1.i] * 10000.0 + 0.5) AS BIGINT)
                 * CAST(floor(v[d2.j] * 10000.0 + 0.5) AS BIGINT)) AS sxy
      FROM e,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) d1,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) d2
      WHERE d2.j >= d1.i
      GROUP BY 1, 2
    ),
    comp AS (
      SELECT g.i AS i,
             CAST(SUM(CAST(floor(v[g.i] * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
      GROUP BY 1
    ),
    agg AS (
      SELECT CAST(MAX(i) AS INTEGER) AS dims,
             SUM(CASE WHEN i = j THEN sxy ELSE 0 END) AS trace_raw,
             SUM(sxy * sxy * (CASE WHEN i = j THEN 1 ELSE 2 END)) AS frob2
      FROM grid
    ),
    msum AS (SELECT SUM(sq * sq) AS mn FROM comp)
    SELECT a.dims, nn.n,
           round(CAST(a.trace_raw AS DOUBLE) / nn.n / 100000000.0, 6) AS trace_mean,
           round(CAST(m.mn AS DOUBLE) / nn.n / nn.n / 100000000.0, 6) AS mean_norm2,
           round(CAST(a.trace_raw * a.trace_raw AS DOUBLE)
                 / CAST(a.frob2 AS DOUBLE), 6) AS participation_ratio
    FROM agg a CROSS JOIN n nn CROSS JOIN msum m
    """,
)
def embedding_isotropy_audit(spark, sf_dir):
    from ..operators.similarity import gram_upper_cells

    scale = 10000.0
    e = _t(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = gram_upper_cells(e, "embedding", scale=int(scale))
    # sxy ≤ n·s² ≈ 1e17 even at 10⁹ rows → decimal(19,0) holds each
    # cell; squaring two of them caps at precision 38 BY TYPE (no
    # silent overflow on either engine at any tested SF or 16× probe).
    s19 = F.col("sxy").cast("decimal(19,0)")
    agg = grid.agg(
        F.max("i").cast("int").alias("dims"),
        F.sum(F.when(F.col("i") == F.col("j"), s19).otherwise(F.lit(0))).alias(
            "trace_raw"
        ),
        F.sum(
            s19 * s19 * F.when(F.col("i") == F.col("j"), 1).otherwise(2)
        ).alias("frob2"),
    )
    comp = e.select(F.posexplode(F.col("embedding")).alias("dim", "xf")).select(
        F.floor(F.col("xf").cast("double") * F.lit(scale) + F.lit(0.5))
        .cast("long")
        .alias("q"),
        "dim",
    )
    msum = (
        comp.groupBy("dim")
        .agg(F.sum(F.col("q").cast("decimal(19,0)")).alias("sq"))
        .agg(F.sum(F.col("sq") * F.col("sq")).alias("mn"))
    )
    return (
        agg.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(msum))
        .select(
            "dims",
            "n",
            F.round(
                F.col("trace_raw").cast("double") / F.col("n") / F.lit(scale * scale), 6
            ).alias("trace_mean"),
            F.round(
                F.col("mn").cast("double") / F.col("n") / F.col("n")
                / F.lit(scale * scale),
                6,
            ).alias("mean_norm2"),
            F.round(
                (F.col("trace_raw").cast("decimal(19,0)") * F.col("trace_raw").cast("decimal(19,0)")).cast("double")
                / F.col("frob2").cast("double"),
                6,
            ).alias("participation_ratio"),
        )
    )


# Near-dup-cluster-safe train/eval SPLIT — the split-hygiene composition
# (Lee et al. 2022 "Deduplicating Training Data" §5: random doc-level
# splits leak near-duplicates across the boundary and inflate eval).
# Every document is assigned to the md5-bucket of its CLUSTER label
# (LSH pairs → connected components; singletons are their own cluster),
# so a near-dup group moves as a unit.  The audit quantifies the hygiene
# won: crossing_safe counts candidate pairs straddling the cluster-hash
# split (0 by construction — pinned, because both endpoints share a
# cluster) vs crossing_naive, the pairs a doc-hash split would leak.
# Scale: the pair/CC machinery is the banded production path; the split
# itself is one hash expression — no extra shuffle beyond one label join.
@query(
    "cluster_safe_split_docs",
    f"""
    WITH RECURSIVE {_MINHASH_CORPUS_SQL},
    sig AS (
      SELECT doc_id,
        {_MINHASH_SIG_SQL} AS sig
      FROM sh
    ),
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
    clusters AS (SELECT n AS node, MIN(m) AS cluster FROM reach GROUP BY n),
    assigned AS (
      SELECT c.doc_id,
             coalesce(cl.cluster, c.doc_id) AS cluster,
             CASE WHEN cl.node IS NOT NULL THEN 1 ELSE 0 END AS grouped
      FROM corpus c LEFT JOIN clusters cl ON c.doc_id = cl.node
    ),
    split AS (
      SELECT doc_id, cluster, grouped,
             CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(cluster AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 8000
                  THEN 'train' ELSE 'eval' END AS split
      FROM assigned
    ),
    xsafe AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS crossing_safe
      FROM pairs p JOIN split sa ON p.doc_a = sa.doc_id
                   JOIN split sb ON p.doc_b = sb.doc_id
      WHERE sa.split <> sb.split
    ),
    xnaive AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS crossing_naive
      FROM pairs p
      WHERE (CAST(CONCAT('0x', substr(md5(CAST(p.doc_a AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < 8000)
         <> (CAST(CONCAT('0x', substr(md5(CAST(p.doc_b AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < 8000)
    )
    SELECT s.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.cluster) AS BIGINT) AS n_clusters,
           CAST(SUM(s.grouped) AS BIGINT) AS n_grouped_docs,
           MAX(x1.crossing_safe) AS crossing_safe,
           MAX(x2.crossing_naive) AS crossing_naive
    FROM split s CROSS JOIN xsafe x1 CROSS JOIN xnaive x2
    GROUP BY s.split ORDER BY s.split
    """,
)
def cluster_safe_split_docs(spark, sf_dir):
    from ..operators.dedup import connected_components, lsh_candidate_pairs
    from ..operators.sampling import hash_bucket

    corpus = _minhash_corpus(spark, sf_dir)
    # pairs feed THREE consumers (CC, the safe-crossing audit, the
    # naive-crossing audit) — materialize once or the banded LSH
    # pipeline re-executes per branch (no cross-branch CSE).
    pairs = materialize(lsh_candidate_pairs(corpus, "doc_id", "text"), "lsh_pairs")
    labels = connected_components(pairs)
    assigned = (
        corpus.join(labels, corpus.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
            F.when(F.col("node").isNotNull(), 1).otherwise(0).alias("grouped"),
        )
    )
    split = assigned.select(
        "doc_id",
        "cluster",
        "grouped",
        F.when(hash_bucket(F.col("cluster")) < 8000, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    # feeds the rollup AND the safe-crossing join
    split = materialize(split, "cluster_safe_split_docs.split")
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    xsafe = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("crossing_safe"))
    )
    xnaive = pairs.filter(
        (hash_bucket(F.col("doc_a")) < 8000) != (hash_bucket(F.col("doc_b")) < 8000)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("crossing_naive"))
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
            F.sum("grouped").cast("bigint").alias("n_grouped_docs"),
        )
        .crossJoin(F.broadcast(xsafe))
        .crossJoin(F.broadcast(xnaive))
        .orderBy("split")
    )


# Generic multi-clause CDC apply (full ANSI MERGE: matched-delete,
# matched-update, not-matched-insert in ONE batch) — the third merge
# shape beyond the reference's SCD2 update-or-insert and anti-join
# insert-only (ddl.py:463-558).  The change batch is derived
# deterministically from the snapshot itself (keys ≡0 mod 97 →
# DELETE; ≡0 mod 7 otherwise → UPDATE re-pricing +10.00 and status
# 'X'; ≡0 mod 131 → INSERT under key+10⁹, status 'N') so the oracle
# replays the identical batch.  The checksum rolls up per final
# status with the rule-#6 integer unit sum.  Scale: one key-hash
# equi-join + one anti-join — no windows, no skew beyond the key's own.
@query(
    "cdc_apply_multi_clause_orders",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p FROM orders
    ),
    upd AS (SELECT k FROM base WHERE k % 97 <> 0 AND k % 7 = 0),
    merged AS (
      SELECT b.k,
             CASE WHEN u.k IS NOT NULL THEN 'X' ELSE b.s END AS s,
             CASE WHEN u.k IS NOT NULL THEN b.p + 10.0 ELSE b.p END AS p
      FROM base b LEFT JOIN upd u ON b.k = u.k
      WHERE b.k % 97 <> 0
    ),
    ins AS (SELECT k + 1000000000 AS k, 'N' AS s, p FROM base WHERE k % 131 = 0),
    final AS (SELECT * FROM merged UNION ALL SELECT * FROM ins)
    SELECT s AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(CAST(p AS DECIMAL(18,4)) * 10000 AS BIGINT))
                           AS DOUBLE) / 10000.0, 2) AS DOUBLE) AS total_price
    FROM final GROUP BY s ORDER BY s
    """,
)
def cdc_apply_multi_clause_orders(spark, sf_dir):
    from ..operators.cdc import apply_cdc_batch

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    deletes = base.filter(k % 97 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), "o_orderstatus", "o_totalprice"
    )
    updates = base.filter((k % 97 != 0) & (k % 7 == 0)).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
    )
    inserts = base.filter(k % 131 == 0).select(
        (k + F.lit(1000000000)).alias("o_orderkey"),
        F.lit("I").alias("op"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    final = apply_cdc_batch(base, changes, "o_orderkey", "op")
    return (
        final.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(_units4("o_totalprice")).cast("double") / F.lit(10000.0), 2
            ).cast("double").alias("total_price"),
        )
        .orderBy("status")
    )


# Forward as-of join with tolerance — pandas merge_asof parity
# (operators/asof.py direction='forward', tolerance_seconds): for every
# 'view' event, the NEXT 'purchase' by the same user within 2 hours —
# the attribution/conversion-lag shape that backward as-of cannot
# express.  Ties among equal-timestamp purchases break on the highest
# event_id (right_tiebreak), mirrored in the oracle's max_by; the
# per-user rollup keeps money in rule-#6 integer units.  Plan: one
# union + one per-key window scan — never a θ-join, at any scale.
@query(
    "asof_forward_tolerance_events",
    """
    WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT v.event_id AS vid, v.user_id, v.ts,
             (SELECT MIN(p.ts) FROM p
              WHERE p.user_id = v.user_id AND p.ts >= v.ts) AS pts
      FROM v
    ),
    mm AS (
      SELECT vid, user_id, ts, pts,
             CASE WHEN pts IS NOT NULL
                   AND date_diff('second', ts, pts) <= 7200
                  THEN 1 ELSE 0 END AS conv
      FROM m
    ),
    pick AS (
      SELECT mm.vid, mm.user_id, mm.conv,
             CASE WHEN mm.conv = 1
                  THEN date_diff('second', mm.ts, mm.pts) END AS lag_s,
             CASE WHEN mm.conv = 1 THEN (
               SELECT CAST(CAST(max_by(p.value, p.event_id) AS DECIMAL(18,4))
                           * 10000 AS BIGINT)
               FROM p WHERE p.user_id = mm.user_id AND p.ts = mm.pts
             ) END AS punits
      FROM mm
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(conv) AS BIGINT) AS n_converted,
           CAST(coalesce(SUM(lag_s), 0) AS BIGINT) AS sum_lag_s,
           CAST(ROUND(CAST(coalesce(SUM(punits), 0) AS DOUBLE) / 10000.0, 2)
                AS DOUBLE) AS converted_value
    FROM pick GROUP BY user_id ORDER BY user_id
    """,
)
def asof_forward_tolerance_events(spark, sf_dir):
    from ..operators.asof import asof_join

    e = _events(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("ts").alias("pts"), "value", F.col("event_id").alias("pid")
    )
    j = asof_join(
        views,
        purch,
        key="user_id",
        right_payload=["pts", "value", "pid"],
        direction="forward",
        tolerance_seconds=7200,
        right_tiebreak="pid",
    )
    conv = F.when(F.col("pts_asof").isNotNull(), 1).otherwise(0)
    lag_s = F.col("pts_asof").cast("long") - F.col("ts").cast("long")
    punits = (F.col("value_asof").cast("decimal(18,4)") * F.lit(10000)).cast("long")
    return (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.sum(conv).cast("bigint").alias("n_converted"),
            F.coalesce(
                F.sum(F.when(conv == 1, lag_s)), F.lit(0)
            ).cast("bigint").alias("sum_lag_s"),
            F.round(
                F.coalesce(F.sum(F.when(conv == 1, punits)), F.lit(0)).cast("double")
                / F.lit(10000.0),
                2,
            ).cast("double").alias("converted_value"),
        )
        .orderBy("user_id")
    )


# Semi-additive closing-balance aggregate — the measure family SUM
# cannot express (account balances, inventory levels, headcounts):
# per (customer, month) the LAST order's value is that month's balance
# snapshot, carried FORWARD through inactive months, then summed
# across accounts per month.  Aggregating balances with SUM over time
# double-counts; this is the month-end-closing semantics every finance
# mart needs.  Deterministic last = max_by over (orderdate, orderkey);
# money stays in rule-#6 integer units through the carry.  Scale: the
# spine is |accounts|×|months| (dimension-sized, NOT fact-sized), the
# carry-forward window is per-account over ≤|months| rows.
@query(
    "semiadditive_balance_monthly",
    """
    WITH o AS (
      SELECT o_custkey AS c, date_trunc('month', o_orderdate) AS m,
             o_orderdate AS d, o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u
      FROM orders
    ),
    ob AS (
      SELECT c, m, u AS bal FROM (
        SELECT c, m, u,
               row_number() OVER (PARTITION BY c, m ORDER BY d DESC, k DESC) AS rn
        FROM o
      ) WHERE rn = 1
    ),
    months AS (SELECT DISTINCT m FROM o),
    custs AS (SELECT DISTINCT c FROM o),
    spine AS (SELECT c, m FROM custs CROSS JOIN months),
    carried AS (
      SELECT s.c, s.m,
             last_value(ob.bal IGNORE NULLS) OVER (
               PARTITION BY s.c ORDER BY s.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS bal
      FROM spine s LEFT JOIN ob ON s.c = ob.c AND s.m = ob.m
    )
    SELECT strftime(m, '%Y-%m') AS month,
           CAST(COUNT(bal) AS BIGINT) AS n_accounts,
           CAST(ROUND(CAST(SUM(bal) AS DOUBLE) / 10000.0, 2) AS DOUBLE)
             AS closing_balance
    FROM carried GROUP BY m ORDER BY month
    """,
)
def semiadditive_balance_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        _units4("o_totalprice").alias("u"),
    )
    ob = o.groupBy("c", "m").agg(
        F.expr("max_by(u, struct(d, k))").alias("bal")
    )
    # feeds the months spine AND the balance join
    ob = materialize(ob, "semiadditive_balance_monthly.ob")
    months = ob.select("m").distinct()
    custs = ob.select("c").distinct()
    spine = custs.crossJoin(F.broadcast(months))
    carried = (
        spine.join(ob, ["c", "m"], "left")
        .withColumn(
            "bal",
            F.last("bal", ignorenulls=True).over(
                Window.partitionBy("c")
                .orderBy("m")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        carried.groupBy(F.date_format("m", "yyyy-MM").alias("month"))
        .agg(
            F.count("bal").cast("bigint").alias("n_accounts"),
            F.round(F.sum("bal").cast("double") / F.lit(10000.0), 2)
            .cast("double")
            .alias("closing_balance"),
        )
        .orderBy("month")
    )


# Reliability diagram (calibration curve) for the heuristic quality
# score against the Gopher rule-battery label — "when the scorer says
# 0.7, how often does the battery actually pass?": the calibration
# audit run before a cheap scorer gates an expensive pipeline stage.
# Deciles are fixed-width on the 6-dp-rounded score (both engines
# produce the identical rounded double, so binning cannot split);
# mean predicted score per bin sums exact 1e-6 units.
@query(
    "reliability_diagram_docs",
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
    binned AS (
      SELECT least(CAST(floor(s.q * 10) AS INTEGER), 9) AS bin,
             l.y,
             CAST(CAST(s.q AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS qu
      FROM scored s JOIN lab l ON s.doc_id = l.doc_id
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
           round(CAST(SUM(qu) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_pred
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def reliability_diagram_docs(spark, sf_dir):
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
    binned = scored.join(lab, "doc_id").select(
        F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9)).alias("bin"),
        "y",
        (F.col("q").cast("decimal(9,6)") * F.lit(1000000)).cast("long").alias("qu"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("pos_rate"),
            F.round(
                F.sum("qu").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("mean_pred"),
        )
        .orderBy("bin")
    )


# Recursive hierarchy rollup — subtree aggregates over a parent-child
# forest (org charts, BOMs, category trees): the warehouse family a
# recursive CTE serves in Postgres and Spark SQL cannot express
# natively.  The hierarchy is the digit-prefix forest parent(k) =
# k div 10 over partkeys (every ancestor of a live key is itself a
# live key, depth = digits).  Spark-first trick: because the parent
# function is ARITHMETIC, the full ancestor closure explodes from one
# scan — transform(sequence) of digit truncations — so the "recursion"
# is one explode + one aggregate (closure size N·log₁₀N), not an
# iterative join loop.  The oracle runs the honest recursive CTE.
@query(
    "hierarchy_rollup_parts",
    """
    WITH RECURSIVE anc(a, node) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION ALL
      SELECT a // 10, node FROM anc WHERE a >= 10
    ),
    v AS (
      SELECT p_partkey AS node,
             CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u
      FROM part
    ),
    roll AS (
      SELECT anc.a AS node,
             CAST(COUNT(*) AS BIGINT) AS subtree_size,
             CAST(SUM(v.u) AS BIGINT) AS uu
      FROM anc JOIN v ON anc.node = v.node
      GROUP BY anc.a
    )
    SELECT r.node,
           CAST(length(CAST(r.node AS VARCHAR)) AS INTEGER) AS depth,
           r.subtree_size,
           CAST(ROUND(CAST(r.uu AS DOUBLE) / 10000.0, 2) AS DOUBLE)
             AS subtree_value
    FROM roll r
    WHERE r.subtree_size > 1
    ORDER BY r.node
    """,
)
def hierarchy_rollup_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), _units4("p_retailprice").alias("u")
    )
    # ancestor chain by arithmetic: k, k div 10, k div 100, ... ≥ 1 —
    # ONE codegen explode, no joins, no iteration.
    closure = p.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 9),"
                " i -> node div CAST(power(10, i) AS BIGINT)), x -> x >= 1)"
            )
        ).alias("anc"),
        "u",
    )
    roll = closure.groupBy(F.col("anc").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("subtree_size"),
        F.sum("u").cast("bigint").alias("uu"),
    )
    return (
        roll.filter(F.col("subtree_size") > 1)
        .select(
            "node",
            F.length(F.col("node").cast("string")).cast("int").alias("depth"),
            "subtree_size",
            F.round(F.col("uu").cast("double") / F.lit(10000.0), 2)
            .cast("double")
            .alias("subtree_value"),
        )
        .orderBy("node")
    )


# l-diversity audit — k-anonymity's sibling (Machanavajjhala et al.
# 2007): a quasi-identifier group can be k-large yet still leak when
# every member shares one sensitive value.  QI = (nation, balance
# band); sensitive = market segment; a group is risky when it carries
# fewer than l = 3 DISTINCT sensitive values.  Same one-aggregate
# audit shape as k_anonymity_audit_customers — integer counts only.
@query(
    "l_diversity_audit_customers",
    """
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS ldiv
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(3 AS INTEGER) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_l,
           CAST(SUM(CASE WHEN ldiv < 3 THEN sz ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(ldiv) AS BIGINT) AS min_diversity,
           CAST(MAX(ldiv) AS BIGINT) AS max_diversity,
           round(CAST(SUM(CASE WHEN ldiv < 3 THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS pct_rows_at_risk
    FROM g
    """,
)
def l_diversity_audit_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("ldiv"),
    )
    risky = F.col("ldiv") < 3
    return g.agg(
        F.lit(3).cast("int").alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("bigint").alias("n_groups_below_l"),
        F.sum(F.when(risky, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("ldiv").cast("bigint").alias("min_diversity"),
        F.max("ldiv").cast("bigint").alias("max_diversity"),
        F.round(
            F.sum(F.when(risky, F.col("sz")).otherwise(0)).cast("double")
            / F.sum("sz"),
            6,
        ).alias("pct_rows_at_risk"),
    )


# nDCG@10 retrieval-quality audit — the standard graded-relevance
# metric (Järvelin & Kekäläinen 2002) for the dense retriever, scored
# against exact lexical-overlap grades (rel = min(|shared distinct
# tokens| div 4, 3), gains 0/1/3/7): the eval number a retrieval stack
# reports next to the rerank-agreement stats.  Discipline: each DCG
# term is round-6'd then summed as exact int64 1e-6 units (order-free);
# the ideal ranking ties break on doc_id so both engines build the
# identical permutation.  Scale: 3 broadcast anchors × one corpus scan.
@query(
    "ndcg_retrieval_audit",
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
    ctok AS (
      SELECT c.query_id, c.doc_id,
             unnest(list_distinct(string_split(lower(d.text), ' '))) AS t
      FROM cand c JOIN documents d USING (doc_id)
    ),
    ov AS (
      SELECT c.query_id, c.doc_id, c.r, coalesce(o.n, 0) AS n_overlap
      FROM cand c LEFT JOIN (
        SELECT ctok.query_id, ctok.doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ctok JOIN qtok
          ON ctok.query_id = qtok.query_id AND ctok.t = qtok.t
        GROUP BY 1, 2
      ) o ON c.query_id = o.query_id AND c.doc_id = o.doc_id
    ),
    g AS (
      SELECT query_id, doc_id, r,
             CASE least(n_overlap // 4, 3)
               WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7
             END AS gain
      FROM ov
    ),
    ig AS (
      SELECT query_id, gain,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY gain DESC, doc_id) AS ir
      FROM g
    ),
    agg AS (
      SELECT g.query_id,
             CAST(SUM(CASE WHEN g.gain > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             SUM(CAST(CAST(round(CAST(g.gain AS DOUBLE) * ln(2.0)
                                 / ln(CAST(g.r + 1 AS DOUBLE)), 6)
                           AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS dcg_u
      FROM g GROUP BY g.query_id
    ),
    iagg AS (
      SELECT query_id,
             SUM(CAST(CAST(round(CAST(gain AS DOUBLE) * ln(2.0)
                                 / ln(CAST(ir + 1 AS DOUBLE)), 6)
                           AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS idcg_u
      FROM ig GROUP BY query_id
    )
    SELECT a.query_id, a.n_rel,
           round(CAST(a.dcg_u AS DOUBLE) / 1000000.0, 6) AS dcg10,
           round(CAST(i.idcg_u AS DOUBLE) / 1000000.0, 6) AS idcg10,
           CASE WHEN i.idcg_u > 0
                THEN round(CAST(a.dcg_u AS DOUBLE) / CAST(i.idcg_u AS DOUBLE), 6)
           END AS ndcg10
    FROM agg a JOIN iagg i USING (query_id)
    ORDER BY a.query_id
    """,
)
def ndcg_retrieval_audit(spark, sf_dir):
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
            F.explode(F.split(F.lower("text"), " ")).alias("t"),
        )
        .distinct()
    )
    ctok = (
        cand.join(d, "doc_id")
        .select("query_id", "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .distinct()
    )
    ov = cand.join(
        ctok.join(F.broadcast(qtok), ["query_id", "t"])
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        ["query_id", "doc_id"],
        "left",
    ).select(
        "query_id", "doc_id", "r", F.coalesce("n", F.lit(0)).alias("n_overlap")
    )
    rel = F.least(F.floor(F.col("n_overlap") / 4), F.lit(3)).cast("int")
    g = ov.select(
        "query_id",
        "doc_id",
        "r",
        F.element_at(F.array(F.lit(0), F.lit(1), F.lit(3), F.lit(7)), rel + 1).alias(
            "gain"
        ),
    )
    g = materialize(g, "ndcg_retrieval_audit.g")  # feeds the DCG agg AND the ideal re-ranking

    def _term_u(gain_col, rank_col):
        return (
            F.round(
                gain_col.cast("double") * F.log(F.lit(2.0))
                / F.log((rank_col + 1).cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            * F.lit(1000000)
        ).cast("long")

    agg = g.groupBy("query_id").agg(
        F.sum(F.when(F.col("gain") > 0, 1).otherwise(0)).cast("bigint").alias("n_rel"),
        F.sum(_term_u(F.col("gain"), F.col("r"))).alias("dcg_u"),
    )
    # the 10-row-per-query ideal re-rank: window bounded by the fixed
    # candidate budget, not the corpus (rerank_agreement exception class)
    ig = g.withColumn(
        "ir",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("gain"), F.asc("doc_id"))
        ),
    )
    iagg = ig.groupBy("query_id").agg(
        F.sum(_term_u(F.col("gain"), F.col("ir"))).alias("idcg_u")
    )
    return (
        agg.join(iagg, "query_id")
        .select(
            "query_id",
            "n_rel",
            F.round(F.col("dcg_u").cast("double") / F.lit(1000000.0), 6).alias("dcg10"),
            F.round(F.col("idcg_u").cast("double") / F.lit(1000000.0), 6).alias(
                "idcg10"
            ),
            F.when(
                F.col("idcg_u") > 0,
                F.round(
                    F.col("dcg_u").cast("double") / F.col("idcg_u").cast("double"), 6
                ),
            ).alias("ndcg10"),
        )
        .orderBy("query_id")
    )


# t-closeness audit — the third rung of the release-privacy ladder
# (k-anonymity → l-diversity → t-closeness, Li et al. 2007): a QI
# group can be large AND diverse yet still leak when its sensitive
# distribution diverges from the table's.  For categorical sensitive
# values the distance is total variation ½Σ|p_i − q_i|; the compare
# stays EXACT by cross-multiplying to integers (|n_gi·N − N_i·n_g|
# over 2·n_g·N) with one rounded double at the end.  Same scan shape
# as the other privacy audits: one (QI, segment) contingency, then
# cell-sized arithmetic.
@query(
    "t_closeness_audit_customers",
    """
    WITH cell AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_gs
      FROM customer GROUP BY 1, 2, 3
    ),
    grp AS (
      SELECT c_nationkey, bal_band, CAST(SUM(n_gs) AS BIGINT) AS n_g
      FROM cell GROUP BY 1, 2
    ),
    seg AS (
      SELECT c_mktsegment, CAST(SUM(n_gs) AS BIGINT) AS n_s FROM cell GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_gs) AS BIGINT) AS n FROM cell),
    dense AS (
      SELECT g.c_nationkey, g.bal_band, g.n_g, s.c_mktsegment, s.n_s, t.n,
             coalesce(c.n_gs, 0) AS n_gs
      FROM grp g CROSS JOIN seg s CROSS JOIN tot t
      LEFT JOIN cell c
        ON c.c_nationkey = g.c_nationkey AND c.bal_band = g.bal_band
       AND c.c_mktsegment = s.c_mktsegment
    ),
    tdist AS (
      SELECT c_nationkey, bal_band, MAX(n_g) AS n_g,
             round(CAST(SUM(abs(n_gs * n - n_s * n_g)) AS DOUBLE)
                   / (2.0 * MAX(n_g) * MAX(n)), 6) AS t
      FROM dense GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_g) AS BIGINT) AS n_rows,
           round(MAX(t), 6) AS max_t,
           round(MIN(t), 6) AS min_t,
           CAST(SUM(CASE WHEN t > 0.35 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_above_t,
           CAST(SUM(CASE WHEN t > 0.35 THEN n_g ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM tdist
    """,
)
def t_closeness_audit_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    cell = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_gs"))
    # feeds group totals, segment totals, grand total
    cell = materialize(cell, "t_closeness_audit_customers.cell")
    grp = cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n_gs").cast("bigint").alias("n_g")
    )
    seg = cell.groupBy("c_mktsegment").agg(F.sum("n_gs").cast("bigint").alias("n_s"))
    tot = cell.agg(F.sum("n_gs").cast("bigint").alias("n"))
    dense = (
        grp.crossJoin(F.broadcast(seg))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .withColumn("n_gs", F.coalesce("n_gs", F.lit(0)))
    )
    tdist = dense.groupBy("c_nationkey", "bal_band").agg(
        F.max("n_g").alias("n_g"),
        F.round(
            F.sum(
                F.abs(F.col("n_gs") * F.col("n") - F.col("n_s") * F.col("n_g"))
            ).cast("double")
            / (F.lit(2.0) * F.max("n_g") * F.max("n")),
            6,
        ).alias("t"),
    )
    above = F.col("t") > 0.35
    return tdist.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n_rows"),
        F.round(F.max("t"), 6).alias("max_t"),
        F.round(F.min("t"), 6).alias("min_t"),
        F.sum(F.when(above, 1).otherwise(0)).cast("bigint").alias("n_groups_above_t"),
        F.sum(F.when(above, F.col("n_g")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
    )


# Fairness-constrained interleaved top-k — exposure-parity ranking
# (round-robin across sources): pure quality ordering lets one source
# monopolize the head of the list; interleaving by within-source rank
# guarantees every source its slice of the top positions (the
# diversity re-rank recommenders and corpus samplers apply).  Order =
# (within-source rank, quality desc, doc_id) — fully deterministic.
# Scale: the within-source window partitions by source; the global
# LIMIT under ORDER BY plans as TakeOrderedAndProject (per-partition
# top-k + merge — never a full global sort); only the 40 surviving
# rows see the position window.
@query(
    "fair_interleave_topk_docs",
    f"""
    WITH scored AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS q FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, q,
             row_number() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id) AS src_rank
      FROM scored
    ),
    top AS (
      SELECT doc_id, source, q, src_rank
      FROM ranked ORDER BY src_rank, q DESC, doc_id LIMIT 40
    )
    SELECT row_number() OVER (ORDER BY src_rank, q DESC, doc_id) AS position,
           doc_id, source, src_rank, q AS quality
    FROM top ORDER BY position
    """,
)
def fair_interleave_topk_docs(spark, sf_dir):
    from ..operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", quality_score(F.col("text")).alias("q"))
    ranked = scored.withColumn(
        "src_rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
        ),
    )
    top = ranked.orderBy("src_rank", F.desc("q"), "doc_id").limit(40)
    # 40-row frame: the unpartitioned position window is bounded by the
    # fixed exposure budget, not the corpus (rerank exception class).
    return top.withColumn(
        "position",
        F.row_number().over(Window.orderBy("src_rank", F.desc("q"), "doc_id")),
    ).select("position", "doc_id", "source", "src_rank", F.col("q").alias("quality")).orderBy(
        "position"
    )


# Distribution-free median CI — exact order-statistic bounds (the
# binomial/normal-approximation rank interval every data-profiling
# report should attach to its medians instead of a bare point
# estimate).  Ranks come from the two-phase global row number (never a
# single-reducer window); n-dependent rank cutoffs are computed with
# the IDENTICAL double expression on both engines, and selecting by
# RANK makes duplicate values harmless (any tie order yields the same
# value at a given rank).
@query(
    "median_ci_lineitem",
    """
    WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v
    ),
    ks AS (
      SELECT n,
             CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)
               AS k_lo,
             (n + 1) // 2 AS k_med
      FROM n
    )
    SELECT ks.n, ks.k_lo,
           ks.n - ks.k_lo + 1 AS k_hi,
           MAX(CASE WHEN r.rn = ks.k_lo THEN r.x END) AS ci_lo,
           MAX(CASE WHEN r.rn = ks.k_med THEN r.x END) AS median,
           MAX(CASE WHEN r.rn = ks.n - ks.k_lo + 1 THEN r.x END) AS ci_hi
    FROM ranked r CROSS JOIN ks
    WHERE r.rn IN (ks.k_lo, ks.k_med, ks.n - ks.k_lo + 1)
    GROUP BY ks.n, ks.k_lo
    """,
)
def median_ci_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    ranked = global_row_number(li, [F.col("x")], out_col="rn")
    ks = li.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        "n",
        F.floor(
            (F.col("n") - F.lit(1.959964) * F.sqrt(F.col("n").cast("double")))
            / F.lit(2.0)
        ).cast("bigint").alias("k_lo"),
        ((F.col("n") + 1) / 2).cast("bigint").alias("k_med"),
    )
    picked = ranked.crossJoin(F.broadcast(ks)).filter(
        (F.col("rn") == F.col("k_lo"))
        | (F.col("rn") == F.col("k_med"))
        | (F.col("rn") == F.col("n") - F.col("k_lo") + 1)
    )
    return picked.groupBy("n", "k_lo").agg(
        F.max(F.when(F.col("rn") == F.col("k_lo"), F.col("x"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == F.col("k_med"), F.col("x"))).alias("median"),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("k_lo") + 1, F.col("x"))
        ).alias("ci_hi"),
    ).select(
        "n",
        "k_lo",
        (F.col("n") - F.col("k_lo") + 1).alias("k_hi"),
        "ci_lo",
        "median",
        "ci_hi",
    )


# ---------------------------------------------------------------------------
# Round-7 wave 19 — graph analytics beside PageRank: HITS mutual
# reinforcement, partition modularity, item-item collaborative
# filtering.

# HITS hubs & authorities over the supplier→part bipartite graph
# (Kleinberg): good hubs (suppliers) point at good authorities
# (widely-supplied parts) and vice versa.  Runs UNNORMALIZED so every
# score is an exact int64 (operators/graph.hits_bipartite — the
# normalization divides by the integer total ONCE at the end, a single
# correctly-rounded double division; per-round renormalization is the
# documented overflow knob for graphs dense enough to exceed int64).
# Per-role top-25 via two global orderBy+limit cuts
# (TakeOrderedAndProject) — never a role-partitioned window (2
# partitions = a skew cliff at scale); ranking keys are exact integers
# with id tie-breaks (rule #7 does not even arise).
@query(
    "hits_suppliers_parts",
    """
    WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sc FROM e GROUP BY p),
    h1 AS (SELECT e.s, CAST(SUM(a1.sc) AS BIGINT) AS sc
           FROM e JOIN a1 ON e.p = a1.p GROUP BY e.s),
    a2 AS (SELECT e.p, CAST(SUM(h1.sc) AS BIGINT) AS sc
           FROM e JOIN h1 ON e.s = h1.s GROUP BY e.p),
    h2 AS (SELECT e.s, CAST(SUM(a2.sc) AS BIGINT) AS sc
           FROM e JOIN a2 ON e.p = a2.p GROUP BY e.s),
    th AS (SELECT CAST(SUM(sc) AS BIGINT) AS t FROM h2),
    ta AS (SELECT CAST(SUM(sc) AS BIGINT) AS t FROM a2),
    hub AS (
      SELECT 'hub' AS role, s AS node, sc AS score,
             round(CAST(sc AS DOUBLE) / t, 8) AS norm_score
      FROM h2 CROSS JOIN th ORDER BY sc DESC, s LIMIT 25
    ),
    auth AS (
      SELECT 'authority' AS role, p AS node, sc AS score,
             round(CAST(sc AS DOUBLE) / t, 8) AS norm_score
      FROM a2 CROSS JOIN ta ORDER BY sc DESC, p LIMIT 25
    )
    SELECT * FROM hub UNION ALL SELECT * FROM auth
    ORDER BY role, score DESC, node
    """,
)
def hits_suppliers_parts(spark, sf_dir):
    from ..operators.graph import hits_bipartite

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    scored = hits_bipartite(edges, iters=2)
    # One integer total per role (2-row aggregate, broadcast back).
    totals = scored.groupBy("role").agg(F.sum("score").alias("t"))
    sn = scored.join(F.broadcast(totals), "role").select(
        "role",
        "node",
        "score",
        F.round(F.col("score").cast("double") / F.col("t"), 8).alias(
            "norm_score"
        ),
    )
    top = (
        sn.filter(F.col("role") == "hub")
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(25)
        .unionByName(
            sn.filter(F.col("role") == "authority")
            .orderBy(F.desc("score"), F.asc("node"))
            .limit(25)
        )
    )
    return top.select("role", "node", "score", "norm_score").orderBy(
        "role", F.desc("score"), "node"
    )


# Newman modularity of the brand partition over the part co-purchase
# graph — "do same-brand parts actually co-occur in orders?"  The
# community-quality score every graph-clustering pipeline reports.
# Q = Σ_c [e_c/m − (d_c/2m)²] evaluated ENTIRELY in exact integers:
# per-community contribution = (4·m·e_c − d_c²) / (4·m²) and the global
# Q from the SUMMED integer numerators — never a float sum of per-
# community doubles (summation order).  Both divisions are single
# correctly-rounded ops over int64 values < 2^53 → bit-identical, no
# rounding net needed.  Scale shape: one edge scan for degrees, one
# broadcast dim join for brands, community-sized aggregates.
@query(
    "modularity_brand_copurchase",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT pa AS node FROM pairs UNION ALL SELECT pb AS node FROM pairs
      ) GROUP BY node
    ),
    ec AS (
      SELECT x.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM pairs
      JOIN part x ON pairs.pa = x.p_partkey
      JOIN part y ON pairs.pb = y.p_partkey
      WHERE x.p_brand = y.p_brand GROUP BY x.p_brand
    ),
    dc AS (
      SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg.d) AS BIGINT) AS d_sum
      FROM deg JOIN part p ON deg.node = p.p_partkey GROUP BY p.p_brand
    ),
    cells AS (
      SELECT dc.brand, dc.n_nodes, COALESCE(ec.e_in, 0) AS e_in, dc.d_sum
      FROM dc LEFT JOIN ec ON dc.brand = ec.brand
    ),
    tot AS (
      SELECT CAST(SUM(4 * m * e_in - d_sum * d_sum) AS BIGINT) AS qnum
      FROM cells CROSS JOIN mm
    )
    SELECT cells.brand, cells.n_nodes, cells.e_in, cells.d_sum,
           CAST(4 * m * e_in - d_sum * d_sum AS DOUBLE) / (4 * m * m)
             AS q_contrib,
           CAST(qnum AS DOUBLE) / (4 * m * m) AS q_total
    FROM cells CROSS JOIN mm CROSS JOIN tot ORDER BY cells.brand
    """,
)
def modularity_brand_copurchase(spark, sf_dir):
    pairs = _copurchase_pairs(spark, sf_dir)
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionByName(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ec = (
        pairs.join(
            F.broadcast(part.select(F.col("p_partkey").alias("pa"),
                                    F.col("p_brand").alias("ba"))), "pa")
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("pb"),
                                    F.col("p_brand").alias("bb"))), "pb")
        .filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dc = (
        deg.join(F.broadcast(part.select(F.col("p_partkey").alias("node"),
                                         "p_brand")), "node")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("d_sum"))
    )
    cells = (
        dc.join(ec, "brand", "left")
        .select(
            "brand", "n_nodes",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            "d_sum",
        )
        .crossJoin(F.broadcast(m))
        .withColumn(
            "qn",
            (F.lit(4) * F.col("m") * F.col("e_in")
             - F.col("d_sum") * F.col("d_sum")).cast("long"),
        )
    )
    tot = cells.agg(F.sum("qn").cast("long").alias("qnum"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "brand", "n_nodes", "e_in", "d_sum",
            (F.col("qn").cast("double")
             / (F.lit(4) * F.col("m") * F.col("m"))).alias("q_contrib"),
            (F.col("qnum").cast("double")
             / (F.lit(4) * F.col("m") * F.col("m"))).alias("q_total"),
        )
        .orderBy("brand")
    )


# Item-item collaborative filtering — cosine similarity over order
# co-occurrence counts (the classic "customers who bought X also
# bought Y" recommender):  sim(i,j) = c_ij / √(c_i·c_j) with c_* exact
# basket counts.  Co-occurrence counts come from the same in-task
# per-order pair expansion as the co-purchase graph (bounded by lines
# per order, never a self-join explosion); anchors are the 20 most
# popular items (integer count + id tie-break = deterministic cut via
# TakeOrderedAndProject), the rank window runs only over the
# anchor-bounded candidate set, and ranks key on the ROUNDED cosine
# (rule #7) with neighbor-id tie-breaks.  √ and ÷ over exactly-
# representable int64 products (< 2^53) are correctly rounded — the
# score is bit-identical cross-engine before the round.
@query(
    "item_cf_cosine_parts",
    """
    WITH per AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ci AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS c
           FROM per GROUP BY l_partkey),
    cij AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS c
      FROM per a JOIN per b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    sym AS (
      SELECT pa AS a, pb AS b, c FROM cij
      UNION ALL SELECT pb AS a, pa AS b, c FROM cij
    ),
    anchors AS (SELECT p, c FROM ci ORDER BY c DESC, p LIMIT 20),
    scored AS (
      SELECT an.p AS anchor, sym.b AS nbr, sym.c AS c_ij,
             round(sym.c / sqrt(CAST(an.c * cn.c AS DOUBLE)), 6) AS cosine
      FROM sym JOIN anchors an ON sym.a = an.p JOIN ci cn ON sym.b = cn.p
    ),
    top AS (
      SELECT anchor, nbr, c_ij, cosine,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY cosine DESC, nbr) AS rn
      FROM scored
    )
    SELECT anchor, nbr, c_ij, cosine, rn FROM top WHERE rn <= 5
    ORDER BY anchor, rn
    """,
)
def item_cf_cosine_parts(spark, sf_dir):
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    per = li.select("l_orderkey", "l_partkey").distinct()
    ci = per.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # In-task pair expansion (≤ lines-per-order² per basket, the
    # _copurchase_pairs discipline) with COUNTS kept, not distinct.
    per_order = per.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    cij = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(least(x, y) AS pa, greatest(x, y) AS pb))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sym = cij.select(
        F.col("pa").alias("a"), F.col("pb").alias("b"), "c"
    ).unionByName(
        cij.select(F.col("pb").alias("a"), F.col("pa").alias("b"), "c")
    )
    anchors = ci.orderBy(F.desc("c"), F.asc("p")).limit(20)
    scored = (
        sym.join(
            F.broadcast(anchors.select(F.col("p").alias("a"),
                                       F.col("c").alias("c_a"))), "a")
        .join(ci.select(F.col("p").alias("b"), F.col("c").alias("c_n")), "b")
        .select(
            F.col("a").alias("anchor"),
            F.col("b").alias("nbr"),
            F.col("c").alias("c_ij"),
            F.round(
                F.col("c")
                / F.sqrt((F.col("c_a") * F.col("c_n")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("anchor", "nbr", "c_ij", "cosine", "rn")
        .orderBy("anchor", "rn")
    )
